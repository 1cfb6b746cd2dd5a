package graft.cli

import org.apache.spark.sql.functions._
import graft.GraftSession
import graft.etl.{Gff3ToChado, OntologyMerge}
import graft.export.Gff3Export
import graft.sources.{Fasta, Gff3, Obo}
import graft.sinks.ParquetUpsert

/** Command-line multiplexer mirroring the reference's `modware-load` /
  * `modware-export` surface (SURVEY.md §0) on the Spark engine:
  *
  *   graft.cli.GraftCli gff3tochado <in.gff3> <outDir>
  *   graft.cli.GraftCli obo2chado <in.obo> <outDir>
  *   graft.cli.GraftCli chado2gff3 <in.gff3> <out.gff3dir>
  *   graft.cli.GraftCli chado2fasta <in.gff3> <out.fastadir>
  *
  * Loads write the merged store as parquet (the staging-table analog) and
  * print the per-table insert counts the reference's tests assert on.
  */
object GraftCli {

  /** Exports default to the scale-safe per-reference partitioned layout;
    * `--single-file` opts into one coalesced, globally-sorted file.
    * `--dry-run` computes and prints merge counts without writing (the
    * reference's txn-rollback dry run, gff3tochado.pm:272-277).
    * `--force` bypasses the ontology version gate (obo2chado's
    * `is_ontology_new_version`, Ontology.pm:206-239). */
  private var singleFile = false
  private var dryRun = false
  private var force = false

  private var featureVersion = false
  private var withParts = false
  private var includeMetadata = false

  /** Value-carrying options (`--flag value` or `--flag=value`), parsed
    * once up front like the boolean flags. The dicty export verbs use
    * them so reference_id and source/feature_type scoping compose
    * (the reference commands expose all of these as Getopt options —
    * chado2dictynoncanonicalgff3.pm reference_id + source). */
  private var sourceOpt: Option[String] = None
  private var refOpt: Option[String] = None
  private var featureTypeOpt: Option[String] = None
  private var subfeatureTypeOpt: Option[String] = None
  private var typeOpt: Option[String] = None

  private var approx = false

  private var compactStore = false

  private val flags = Set("--single-file", "--dry-run", "--force",
    "--feature-version", "--parts", "--include-metadata", "--approx",
    "--compact")
  private val valueFlags = Set("--source", "--ref", "--feature-type",
    "--subfeature-type", "--type")

  def main(args: Array[String]): Unit = {
    val vals = scala.collection.mutable.Map.empty[String, String]
    val positional = List.newBuilder[String]
    var i = 0
    while (i < args.length) {
      val a = args(i)
      val eq = a.indexOf('=')
      if (flags.contains(a)) () // boolean, read below
      else if (valueFlags.contains(a)) {
        if (i + 1 >= args.length) {
          // a dangling value flag must error, not fall through to the
          // positionals and silently scope an export on "--ref" itself
          System.err.println(s"graft: option $a requires a value")
          sys.exit(2)
        }
        vals(a) = args(i + 1); i += 1
      } else if (eq > 0 && valueFlags.contains(a.substring(0, eq))) {
        vals(a.substring(0, eq)) = a.substring(eq + 1)
      } else positional += a
      i += 1
    }
    singleFile = args.contains("--single-file")
    includeMetadata = args.contains("--include-metadata")
    dryRun = args.contains("--dry-run")
    force = args.contains("--force")
    featureVersion = args.contains("--feature-version")
    withParts = args.contains("--parts")
    approx = args.contains("--approx")
    compactStore = args.contains("--compact")
    sourceOpt = vals.get("--source")
    refOpt = vals.get("--ref")
    featureTypeOpt = vals.get("--feature-type")
    subfeatureTypeOpt = vals.get("--subfeature-type")
    typeOpt = vals.get("--type")
    run(positional.result())
  }

  private def run(args: List[String]): Unit = args match {
    case "gff3tochado" :: in :: out :: Nil => gff3ToChado(in, out)
    case "obo2chado" :: in :: out :: Nil => obo2Chado(in, out)
    case "adhocobo2chado" :: in :: out :: Nil =>
      obo2Chado(in, out, metadata = includeMetadata)
    case "chado2gff3" :: in :: out :: Nil => chado2Gff3(in, out)
    case "chado2fasta" :: in :: out :: rest if rest.size <= 1 =>
      chado2Fasta(in, out, rest.headOption.getOrElse("reference"))
    case "blast2gff3" :: in :: out :: Nil => blast2Gff3(in, out)
    case "blast2gbrowsegff3" :: in :: out :: Nil => blast2GbrowseGff3(in, out)
    case "sumstats" :: in :: Nil => sumStats(in)
    case "stream-merge" :: in :: store :: keys :: Nil => streamMerge(in, store, keys)
    case "gb2fasta" :: in :: out :: Nil => gb2Fasta(in, out)
    case "gb2chado" :: in :: out :: Nil => gb2Chado(in, out, mitochondrial = false)
    case "gbmito2chado" :: in :: out :: Nil => gb2Chado(in, out, mitochondrial = true)
    case "gbassembly2chado" :: in :: store :: rest if rest.size <= 2 =>
      gbAssembly2Chado(in, store, rest.headOption.getOrElse("supercontig"),
        rest.drop(1).headOption)
    // chado2canonicalgff3 (lib/Modware/Export/Command/
    // chado2canonicalgff3.pm) is the reference's name for the canonical
    // store export
    case ("store2gff3" | "chado2canonicalgff3") :: store :: out :: rest if rest.size <= 1 =>
      store2Gff3(store, out, rest.headOption)
    // optional trailing arg = reference_id (dump one reference only;
    // partition-pruned on the srcfeature-partitioned featureloc)
    // trailing positional kept for back-compat (ref for the canonical
    // family, source for the noncanonical pair); the flags compose.
    case "chado2dictycanonicalgff3" :: store :: out :: rest if rest.size <= 1 =>
      dictyGff3(store, out, "canonical", ref = refOpt.orElse(rest.headOption))
    case "chado2dictycuratedgff3" :: store :: out :: rest if rest.size <= 1 =>
      dictyGff3(store, out, "curated", ref = refOpt.orElse(rest.headOption))
    case "chado2dictynoncodinggff3" :: store :: out :: rest if rest.size <= 1 =>
      dictyGff3(store, out, "noncoding", ref = refOpt.orElse(rest.headOption))
    case "chado2dictynoncanonicalgff3" :: store :: out :: rest if rest.size <= 1 =>
      dictyGff3(store, out, "noncanonical",
        source = sourceOpt.orElse(rest.headOption), ref = refOpt)
    case "chado2dictynoncanonicalv2gff3" :: store :: out :: rest if rest.size <= 1 =>
      dictyGff3(store, out, "noncanonicalv2",
        source = sourceOpt.orElse(rest.headOption), ref = refOpt)
    case "stockreport" :: in :: Nil => stockReport(in)
    // dictygaf2chado (lib/Modware/Load/Command/dictygaf2chado.pm) is the
    // MOD-named entry point of the same GAF load pipeline
    case ("gaf2chado" | "dictygaf2chado") :: in :: store :: Nil => gaf2Chado(in, store)
    case "oboclosure2chado" :: in :: store :: Nil => oboClosure2Chado(in, store)
    case "validateobo" :: in :: Nil => validateObo(in)
    case "bibtex2chado" :: in :: store :: Nil => bibtex2Chado(in, store)
    case "chadopub2bib" :: store :: out :: Nil => chadoPub2Bib(store, out)
    case "dictynonpub2bib" :: store :: out :: Nil =>
      chadoPub2Bib(store, out, nonpub = true)
    case "pub2bib" :: in :: out :: Nil => pub2Bib(in, out)
    case "dictybib" :: in :: store :: out :: Nil => dictyBib(in, store, out)
    case "dictypub" :: featurePub :: genes :: pubs :: ddbMap :: out :: Nil =>
      dictyPub(featurePub, genes, pubs, ddbMap, out)
    case "dictypubannotation" :: featurePub :: pubprops :: out :: Nil =>
      dictyPubAnnotation(featurePub, pubprops, out)
    case "store2alignmentgff3" :: store :: out :: Nil => store2AlignmentGff3(store, out)
    case "dropontofromchado" :: store :: ns :: Nil => dropOntoFromChado(store, ns)
    case "chado2genesummary" :: props :: paragraphs :: out :: Nil =>
      chado2GeneSummary(props, paragraphs, out)
    case "dictystrain" :: strains :: props :: out :: Nil =>
      dictyStrain(strains, props, out)
    case "dictyplasmid" :: plasmids :: out :: Nil => dictyPlasmid(plasmids, out)
    case "dictystrain2chado" :: dataDir :: store :: Nil =>
      stock2Chado(dataDir, store, strain = true)
    case "dictyplasmid2chado" :: dataDir :: store :: Nil =>
      stock2Chado(dataDir, store, strain = false)
    case "organism2chado" :: in :: store :: Nil => organism2Chado(in, store)
    case "modidingoa" :: in :: resource :: out :: Nil =>
      modInGoa(in, resource, out, refs = false)
    case "modrefingoa" :: in :: resource :: out :: Nil =>
      modInGoa(in, resource, out, refs = true)
    case "gff3alignment" :: in :: out :: dist :: rest if rest.size <= 1 =>
      gff3Alignment(in, out, dist.toInt, rest.headOption.getOrElse("protein_match"))
    // dictygaf (lib/Modware/Export/Command/dictygaf.pm) is the MOD-named
    // entry point of the same Export::GAF pipeline chado2gaf runs
    case ("chado2gaf" | "dictygaf") :: store :: out :: rest if rest.size <= 1 =>
      chado2Gaf(store, out, rest.headOption)
    case "corpusdedup" :: in :: out :: Nil => corpusDedup(in, out)
    case "dedupingest" :: batch :: store :: out :: Nil =>
      dedupIngest(batch, store, out)
    case "decontaminate" :: corpus :: bench :: out :: Nil =>
      decontaminate(corpus, bench, out)
    case "corpusstats" :: in :: Nil => corpusStats(in)
    case "corpussplit" :: in :: out :: Nil => corpusSplit(in, out)
    case "corpusmix" :: in :: out :: weights :: nShards :: Nil =>
      corpusMix(in, out, weights, nShards.toInt)
    case "corpusimport" :: in :: fmt :: out :: Nil => corpusImport(in, fmt, out)
    case "corpusexport" :: in :: out :: fmt :: rest if rest.size <= 1 =>
      corpusExport(in, out, fmt, rest.headOption.map(_.toInt))
    case "corpusingest" :: in :: out :: Nil => corpusIngest(in, out)
    case "warcimport" :: in :: out :: Nil => warcImport(in, out)
    case "zonewrite" :: in :: dir :: sortCol :: rest if rest.size <= 1 =>
      zoneWrite(in, dir, sortCol, rest.headOption.map(_.toInt).getOrElse(32),
        append = false)
    case "zoneappend" :: in :: dir :: sortCol :: rest if rest.size <= 1 =>
      zoneWrite(in, dir, sortCol, rest.headOption.map(_.toInt).getOrElse(8),
        append = true)
    case "zonequery" :: dir :: sortCol :: lo :: hi :: out :: Nil =>
      zoneQuery(dir, sortCol, lo, hi, out)
    case "pagerank" :: edges :: out :: rest if rest.size <= 2 =>
      pageRank(edges, out, rest.headOption.map(_.toInt).getOrElse(10),
        rest.drop(1).headOption.map(_.toDouble).getOrElse(0.85))
    case "compactstore" :: dir :: sortCol :: rest if rest.size <= 1 =>
      compactStore(dir, sortCol,
        rest.headOption.map(_.toLong << 20).getOrElse(64L << 20))
    case "indexedingest" :: batch :: dir :: sortCol :: statsCols :: rest
        if rest.size <= 1 =>
      indexedIngestCmd(batch, dir, sortCol, statsCols.split(',').toSeq,
        rest.headOption)
    case "bloomindex" :: dir :: keyCol :: rest if rest.size <= 2 =>
      bloomIndex(dir, keyCol, rest.headOption.map(_.toInt).getOrElse(1 << 17),
        rest.drop(1).headOption.map(_.toInt).getOrElse(5))
    case "bloomquery" :: dir :: keyCol :: value :: out :: Nil =>
      bloomQuery(dir, keyCol, value, out)
    case "bloomappend" :: dir :: keyCol :: Nil => bloomAppend(dir, keyCol)
    case "zorderwrite" :: in :: dir :: colA :: colB :: rest if rest.size <= 1 =>
      zorderWrite(in, dir, colA, colB, rest.headOption.map(_.toInt).getOrElse(32))
    case "zorderappend" :: in :: dir :: rest if rest.size <= 1 =>
      zorderAppend(in, dir, rest.headOption.map(_.toInt).getOrElse(8))
    case "vcommit" :: in :: dir :: mode :: rest if rest.size <= 1 =>
      vCommit(in, dir, mode, rest.headOption.map(_.toInt).getOrElse(8))
    case "vread" :: dir :: out :: rest if rest.size <= 1 =>
      vRead(dir, out, rest.headOption.map(_.toLong).getOrElse(-1L))
    case "vdiff" :: dir :: from :: to :: out :: Nil =>
      vDiff(dir, from.toLong, to.toLong, out)
    case "vvacuum" :: dir :: keepLast :: Nil =>
      vVacuum(dir, keepLast.toInt)
    case "vcompact" :: dir :: nFiles :: Nil =>
      vCompact(dir, nFiles.toInt)
    case "corpusbuckets" :: in :: Nil => corpusBuckets(in)
    case "knnlabel" :: labeled :: unlabeled :: out :: rest if rest.size <= 1 =>
      knnLabel(labeled, unlabeled, out, rest.headOption.map(_.toInt).getOrElse(5))
    case "annbuild" :: emb :: indexDir :: rest if rest.size <= 2 =>
      annBuild(emb, indexDir, rest.headOption.map(_.toInt).getOrElse(16),
        rest.drop(1).headOption.map(_.toInt).getOrElse(1))
    case "annquery" :: indexDir :: emb :: id :: k :: rest if rest.size <= 1 =>
      annQuery(indexDir, emb, id.toLong, k.toInt,
        rest.headOption.map(_.toInt).getOrElse(1))
    case "declareunique" :: dir :: keyCol :: Nil =>
      declareUnique(dir, keyCol)
    case "extendunique" :: dir :: keyCol :: Nil =>
      extendUnique(dir, keyCol)
    case "declarefk" :: factDir :: fkCol :: dimDir :: keyCol :: Nil =>
      declareFk(factDir, fkCol, dimDir, keyCol)
    case "storestats" :: dir :: Nil => storeStats(dir)
    case "annstorebuild" :: emb :: indexDir :: storeDir :: Nil =>
      annStoreBuild(emb, indexDir, storeDir, append = false)
    case "annstoreappend" :: emb :: indexDir :: storeDir :: Nil =>
      annStoreBuild(emb, indexDir, storeDir, append = true)
    case "annstorequery" :: indexDir :: storeDir :: emb :: id :: k :: rest
        if rest.size <= 1 =>
      annStoreQuery(indexDir, storeDir, emb, id.toLong, k.toInt,
        rest.headOption.map(_.toInt).getOrElse(1))
    case "annstorecompact" :: storeDir :: rest if rest.size <= 1 =>
      annStoreCompact(storeDir,
        rest.headOption.map(_.toLong).getOrElse(0L))
    case "annstoreclustered" :: emb :: indexDir :: storeDir :: rider :: rest
        if rest.size <= 1 =>
      annStoreClustered(emb, indexDir, storeDir, rider,
        rest.headOption.map(_.toInt).getOrElse(4))
    case "annstoreknn" :: indexDir :: storeDir :: queries :: out :: k :: rest
        if rest.size <= 1 =>
      annStoreKnn(indexDir, storeDir, queries, out, k.toInt,
        rest.headOption.map(_.toInt).getOrElse(1))
    case "annsq8build" :: emb :: indexDir :: storeDir :: Nil =>
      annSq8Build(emb, indexDir, storeDir)
    case "annsq8query" :: indexDir :: storeDir :: emb :: id :: k :: rest
        if rest.size <= 1 =>
      annSq8Query(indexDir, storeDir, emb, id.toLong, k.toInt,
        rest.headOption.map(_.toInt).getOrElse(1))
    case "textbuild" :: docs :: storeDir :: rest if rest.size <= 2 =>
      textBuild(docs, storeDir, rest.headOption.map(_.toInt).getOrElse(64),
        rest.drop(1).headOption.map(_.toInt).getOrElse(1))
    case "textappend" :: docs :: storeDir :: rest if rest.size <= 1 =>
      textAppend(docs, storeDir, rest.headOption.map(_.toInt).getOrElse(1))
    case "textquery" :: storeDir :: terms :: k :: out :: Nil =>
      textQuery(storeDir, terms.split(",").toSeq.filter(_.nonEmpty),
        k.toInt, out)
    case "textcompact" :: storeDir :: rest if rest.size <= 1 =>
      textCompact(storeDir, rest.headOption.map(_.toInt).getOrElse(1))
    case "textcompactsel" :: storeDir :: maxFiles :: rest if rest.size <= 1 =>
      textCompactSelective(storeDir, maxFiles.toInt,
        rest.headOption.map(_.toInt).getOrElse(1))
    case "textbuildpos" :: docs :: storeDir :: rest if rest.size <= 2 =>
      textBuildPos(docs, storeDir, rest.headOption.map(_.toInt).getOrElse(64),
        rest.drop(1).headOption.map(_.toInt).getOrElse(1))
    case "textappendpos" :: docs :: storeDir :: rest if rest.size <= 1 =>
      textAppendPos(docs, storeDir, rest.headOption.map(_.toInt).getOrElse(1))
    case "textphrase" :: storeDir :: phrase :: out :: Nil =>
      textPhrase(storeDir, phrase.split(",").toSeq.filter(_.nonEmpty), out)
    case "textphrasebatch" :: storeDir :: phrases :: out :: Nil =>
      textPhraseBatch(storeDir,
        phrases.split(";").toSeq.filter(_.nonEmpty)
          .map(_.split(",").toSeq.filter(_.nonEmpty)), out)
    case "textnear" :: storeDir :: a :: b :: slop :: out :: rest
        if rest.size <= 1 =>
      textNear(storeDir, a, b, slop.toInt,
        rest.headOption.contains("ordered"), out)
    case "textnearbatch" :: storeDir :: queries :: out :: rest
        if rest.size <= 1 =>
      textNearBatch(storeDir,
        queries.split(";").toSeq.filter(_.nonEmpty).map { spec =>
          val p = spec.split(",")
          require(p.length == 3,
            s"NEAR query '$spec' is not a,b,slop")
          (p(0), p(1), p(2).toInt)
        },
        rest.headOption.contains("ordered"), out)
    case "textnotnear" :: storeDir :: a :: b :: slop :: out :: Nil =>
      textNotNear(storeDir, a, b, slop.toInt, out)
    case "textnotnearbatch" :: storeDir :: queries :: out :: Nil =>
      textNotNearBatch(storeDir,
        queries.split(";").toSeq.filter(_.nonEmpty).map { spec =>
          val p = spec.split(",")
          require(p.length == 3,
            s"SpanNot query '$spec' is not a,b,slop")
          (p(0), p(1), p(2).toInt)
        }, out)
    case "textlmrank" :: storeDir :: terms :: k :: out :: rest
        if rest.size <= 1 =>
      textLmRank(storeDir, terms.split(",").toSeq.filter(_.nonEmpty),
        k.toInt, rest.headOption.map(_.toDouble).getOrElse(2000.0), out)
    case "textlmrankbatch" :: storeDir :: queries :: k :: out :: rest
        if rest.size <= 1 =>
      textLmRankBatch(storeDir,
        queries.split(";").toSeq.filter(_.nonEmpty)
          .map(_.split(",").toSeq.filter(_.nonEmpty)),
        k.toInt, rest.headOption.map(_.toDouble).getOrElse(2000.0), out)
    case "textcontains" :: storeDir :: terms :: out :: Nil =>
      textContains(storeDir, terms.split(",").toSeq.filter(_.nonEmpty), out)
    case "textcontainsbatch" :: storeDir :: queries :: out :: Nil =>
      textContainsBatch(storeDir,
        queries.split(";").toSeq.filter(_.nonEmpty)
          .map(_.split(",").toSeq.filter(_.nonEmpty)), out)
    case "textkwic" :: storeDir :: docs :: term :: width :: out :: Nil =>
      textKwic(storeDir, docs, term, width.toInt, out)
    case "textkwicbatch" :: storeDir :: docs :: queries :: out :: Nil =>
      textKwicBatch(storeDir, docs,
        queries.split(";").toSeq.filter(_.nonEmpty).map { spec =>
          val p = spec.split(",")
          require(p.length == 2,
            s"KWIC query '$spec' is not term,width")
          (p(0), p(1).toInt)
        }, out)
    case "textvocab" :: storeDir :: Nil =>
      textVocab(storeDir)
    case "textblockmax" :: storeDir :: Nil =>
      textBlockmax(storeDir)
    case "textquerysharded" :: shards :: terms :: k :: out :: Nil =>
      textQuerySharded(shards.split(";").toSeq.filter(_.nonEmpty),
        terms.split(",").toSeq.filter(_.nonEmpty), k.toInt, out)
    case "textqueryp" :: storeDir :: terms :: k :: out :: Nil =>
      textQueryPruned(storeDir, terms.split(",").toSeq.filter(_.nonEmpty),
        k.toInt, out)
    case "textmultiphrasebatch" :: storeDir :: queries :: out :: Nil =>
      textMultiPhraseBatch(storeDir,
        queries.split(";").toSeq.filter(_.nonEmpty)
          .map(_.split(" ").toSeq.filter(_.nonEmpty)
            .map(_.split("\\|").toSeq.filter(_.nonEmpty))), out)
    case "textwildphrasebatch" :: storeDir :: queries :: out :: rest
        if rest.size <= 1 =>
      textWildPhraseBatch(storeDir,
        queries.split(";").toSeq.filter(_.nonEmpty)
          .map(_.split(" ").toSeq.filter(_.nonEmpty)),
        rest.headOption.map(_.toInt).getOrElse(64), out)
    case "textlmrankp" :: storeDir :: terms :: k :: out :: rest
        if rest.size <= 1 =>
      textLmRankPruned(storeDir, terms.split(",").toSeq.filter(_.nonEmpty),
        k.toInt, rest.headOption.map(_.toDouble).getOrElse(2000.0), out)
    case "textquerypbatch" :: storeDir :: queries :: k :: out :: Nil =>
      textQueryPrunedBatch(storeDir,
        queries.split(";").toSeq.filter(_.nonEmpty)
          .map(_.split(",").toSeq.filter(_.nonEmpty)), k.toInt, out)
    case "textlmrankpbatch" :: storeDir :: queries :: k :: out :: rest
        if rest.size <= 1 =>
      textLmRankPrunedBatch(storeDir,
        queries.split(";").toSeq.filter(_.nonEmpty)
          .map(_.split(",").toSeq.filter(_.nonEmpty)), k.toInt,
        rest.headOption.map(_.toDouble).getOrElse(2000.0), out)
    case "textwildcard" :: storeDir :: prefix :: k :: out :: rest
        if rest.size <= 1 =>
      textWildcard(storeDir, prefix, k.toInt,
        rest.headOption.map(_.toInt).getOrElse(64), out)
    case "textsuffix" :: storeDir :: suffix :: k :: out :: rest
        if rest.size <= 1 =>
      textSuffix(storeDir, suffix, k.toInt,
        rest.headOption.map(_.toInt).getOrElse(64), out)
    case "textwildcardbatch" :: storeDir :: prefixes :: k :: out :: rest
        if rest.size <= 1 =>
      textWildcardBatch(storeDir,
        prefixes.split(";").toSeq.filter(_.nonEmpty), k.toInt,
        rest.headOption.map(_.toInt).getOrElse(64), out)
    case "textfuzzy" :: storeDir :: term :: maxDist :: k :: out :: rest
        if rest.size <= 1 =>
      textFuzzy(storeDir, term, maxDist.toInt, k.toInt,
        rest.headOption.map(_.toInt).getOrElse(16), out)
    case "textfuzzybatch" :: storeDir :: queries :: k :: out :: rest
        if rest.size <= 1 =>
      textFuzzyBatch(storeDir,
        queries.split(";").toSeq.filter(_.nonEmpty).map { spec =>
          val p = spec.split(",")
          require(p.length == 2, s"fuzzy query '$spec' is not term,maxdist")
          (p(0), p(1).toInt)
        }, k.toInt, rest.headOption.map(_.toInt).getOrElse(16), out)
    case "textregexp" :: storeDir :: pattern :: k :: out :: rest
        if rest.size <= 1 =>
      textRegexp(storeDir, pattern, k.toInt,
        rest.headOption.map(_.toInt).getOrElse(64), out)
    case "textregexpbatch" :: storeDir :: patterns :: k :: out :: rest
        if rest.size <= 1 =>
      textRegexpBatch(storeDir,
        patterns.split(";").toSeq.filter(_.nonEmpty), k.toInt,
        rest.headOption.map(_.toInt).getOrElse(64), out)
    case "textwildphrase" :: storeDir :: slots :: out :: rest
        if rest.size <= 1 =>
      textWildPhrase(storeDir,
        slots.split(";").toSeq.filter(_.nonEmpty),
        rest.headOption.map(_.toInt).getOrElse(64), out)
    case "textfacets" :: storeDir :: terms :: docs :: facetCol :: out :: Nil =>
      textFacets(storeDir, terms.split(",").toSeq.filter(_.nonEmpty),
        docs, facetCol, out)
    case "textfacetrange" :: storeDir :: terms :: docs :: numCol ::
        bounds :: out :: Nil =>
      textFacetRange(storeDir, terms.split(",").toSeq.filter(_.nonEmpty),
        docs, numCol,
        bounds.split(",").toSeq.filter(_.nonEmpty).map(_.toDouble), out)
    case "textfacettop" :: storeDir :: terms :: docs :: facetCol :: k ::
        out :: Nil =>
      textFacetTop(storeDir, terms.split(",").toSeq.filter(_.nonEmpty),
        docs, facetCol, k.toInt, out)
    case "textbm25f" :: fields :: terms :: k :: out :: Nil =>
      textBm25f(fields.split(";").toSeq.filter(_.nonEmpty).map { spec =>
        val p = spec.split(":")
        require(p.length == 4,
          s"field spec '$spec' is not field:storedir:boost:b")
        (p(0), p(1), p(2).toDouble, p(3).toDouble)
      }, terms.split(",").toSeq.filter(_.nonEmpty), k.toInt, out)
    case "textbm25fbatch" :: fields :: queries :: k :: out :: Nil =>
      textBm25fBatch(fields.split(";").toSeq.filter(_.nonEmpty).map { spec =>
        val p = spec.split(":")
        require(p.length == 4,
          s"field spec '$spec' is not field:storedir:boost:b")
        (p(0), p(1), p(2).toDouble, p(3).toDouble)
      }, queries.split("\\|").toSeq.filter(_.nonEmpty)
        .map(_.split(",").toSeq.filter(_.nonEmpty)), k.toInt, out)
    case "textfacetsbatch" :: storeDir :: queries :: docs :: facetCol :: out :: Nil =>
      textFacetsBatch(storeDir,
        queries.split(";").toSeq.filter(_.nonEmpty)
          .map(_.split(",").toSeq.filter(_.nonEmpty)), docs, facetCol, out)
    case "textexpandbatch" :: storeDir :: docs :: queries :: k :: out :: rest
        if rest.size <= 2 =>
      textExpandBatch(storeDir, docs,
        queries.split(";").toSeq.filter(_.nonEmpty)
          .map(_.split(",").toSeq.filter(_.nonEmpty)), k.toInt,
        rest.headOption.map(_.toInt).getOrElse(5),
        rest.lift(1).map(_.toInt).getOrElse(3), out)
    case "textexpand" :: storeDir :: docs :: terms :: k :: out :: rest
        if rest.size <= 2 =>
      textExpand(storeDir, docs,
        terms.split(",").toSeq.filter(_.nonEmpty), k.toInt,
        rest.headOption.map(_.toInt).getOrElse(5),
        rest.drop(1).headOption.map(_.toInt).getOrElse(3), out)
    case "textdelete" :: storeDir :: ids :: Nil =>
      textDelete(storeDir,
        ids.split(",").toSeq.filter(_.nonEmpty).map(_.toLong))
    case "anndelete" :: storeDir :: ids :: Nil =>
      annDelete(storeDir,
        ids.split(",").toSeq.filter(_.nonEmpty).map(_.toLong))
    case "pqbuild" :: emb :: indexDir :: rest if rest.size <= 2 =>
      pqBuild(emb, indexDir, rest.headOption.map(_.toInt).getOrElse(2),
        rest.drop(1).headOption.map(_.toInt).getOrElse(8))
    case "pqquery" :: indexDir :: emb :: id :: k :: Nil =>
      pqQuery(indexDir, emb, id.toLong, k.toInt)
    case "sq8build" :: emb :: storeDir :: Nil => sq8Build(emb, storeDir)
    case "sq8query" :: storeDir :: id :: k :: out :: Nil =>
      sq8Query(storeDir, id.toLong, k.toInt, out)
    case "clftrain" :: docs :: labelCol :: modelDir :: rest if rest.size <= 2 =>
      clfTrain(docs, labelCol, modelDir,
        rest.headOption.map(_.toInt).getOrElse(3),
        rest.drop(1).headOption.map(_.toDouble).getOrElse(10.0))
    case "clfscore" :: docs :: modelDir :: out :: Nil =>
      clfScore(docs, modelDir, out)
    case "colleague" :: dataDir :: cout :: relout :: Nil =>
      colleague(dataDir, cout, relout)
    case "colleague2gene" :: dataDir :: out :: Nil =>
      colleague2Gene(dataDir, out)
    case "curatornotes" :: dataDir :: note :: out :: Nil =>
      curatorNotes(dataDir, note, out)
    case "dscorders" :: dataDir :: pout :: sout :: Nil =>
      dscOrders(dataDir, pout, sout)
    case "bpetrain" :: docs :: out :: rest if rest.size <= 1 =>
      bpeTrain(docs, out, rest.headOption.map(_.toInt).getOrElse(32))
    case "bpetokenize" :: docs :: mergesDir :: out :: Nil =>
      bpeTokenize(docs, mergesDir, out)
    case "profile" :: in :: out :: rest if rest.size <= 1 =>
      profileCmd(in, out, rest.headOption)
    case other =>
      System.err.println(
        s"""unknown command: ${other.mkString(" ")}
           |usage: GraftCli <command> <args> [--single-file] [--dry-run] [--force] [--feature-version]
           |load:      gff3tochado gb2chado gbmito2chado gbassembly2chado obo2chado adhocobo2chado oboclosure2chado
           |           gaf2chado organism2chado bibtex2chado stream-merge dropontofromchado
           |export:    chado2gff3 store2gff3 store2alignmentgff3 chado2fasta chado2gaf
           |           chado2genesummary chadopub2bib gb2fasta dictypub dictypubannotation
           |           chado2dicty{canonical,curated,noncoding}gff3 <store> <out>
           |           chado2dictynoncanonical[v2]gff3 <store> <out> [source]
           |transform: blast2gff3 blast2gbrowsegff3 gff3alignment modidingoa
           |           modrefingoa pub2bib dictybib
           |stock:     dictystrain2chado dictyplasmid2chado (load <datadir> <store>)
           |dump:      dictystrain dictyplasmid
           |crm:       colleague <datadir> <colleague_out> <relations_out>
           |           colleague2gene <datadir> <out>
           |           curatornotes <datadir> <public|private> <out>
           |           dscorders <datadir> <plasmid_out> <strain_out>
           |report:    sumstats stockreport
           |corpus:    corpusdedup decontaminate corpusstats corpussplit corpusmix
           |           dedupingest <batch> <sigstore> <dupes_out> [--compact]
           |           corpusimport corpusingest corpusexport <parquet> <out> <fmt> [shards]
           |ann:       annbuild <emb> <indexdir> [cells] [lloyd_iters]
           |           annquery <indexdir> <emb> <id> <k> [nprobe]
           |           declareunique <dir> <keycol>
           |           extendunique <dir> <keycol>
           |           declarefk <factdir> <fkcol> <dimdir> <keycol>
           |           storestats <dir>
           |           annstorebuild <emb> <indexdir> <storedir>
           |           annstoreappend <emb> <indexdir> <storedir>
           |           annstorequery <indexdir> <storedir> <emb> <id> <k> [nprobe]
           |           annstorecompact <storedir> [max_records_per_file]
           |           anndelete <storedir> <id,id,...>
           |           textdelete <storedir> <id,id,...>
           |           annstoreclustered <emb> <indexdir> <storedir> <ridercol> [files_per_cell]
           |           annstoreknn <indexdir> <storedir> <queries> <out> <k> [nprobe]
           |           annsq8build <emb> <indexdir> <storedir>
           |           annsq8query <indexdir> <storedir> <emb> <id> <k> [nprobe]
           |           textbuild <docs> <storedir> [buckets] [files_per_bucket]
           |           textappend <docs> <storedir> [files_per_bucket]
           |           textquery <dir[;dir2;...]> <term,term,...> <k> <outdir>  (front door: auto-picks pruned/sharded)
           |           textcompact <storedir> [files_per_bucket]
           |           textcompactsel <storedir> <max_files_per_bucket> [files_per_bucket]
           |           textbuildpos <docs> <storedir> [buckets] [files_per_bucket]
           |           textappendpos <docs> <storedir> [files_per_bucket]
           |           textphrase <storedir> <w1,w2,...> <outdir>
           |           textphrasebatch <storedir> <w1,w2;w3,w4;...> <outdir>
           |           textnear <storedir> <a> <b> <slop> <outdir> [ordered]
           |           textnearbatch <storedir> <a,b,slop;a,b,slop;...> <outdir> [ordered]
           |           textnotnear <storedir> <a> <b> <slop> <outdir>
           |           textnotnearbatch <storedir> <a,b,slop;a,b,slop;...> <outdir>
           |           textlmrank <storedir> <w1,w2,...> <k> <outdir> [mu]
           |           textlmrankbatch <storedir> <w1,w2;w3,w4;...> <k> <outdir> [mu]
           |           textcontains <storedir> <w1,w2,...> <outdir>
           |           textcontainsbatch <storedir> <w1,w2;w3,w4;...> <outdir>
           |           textkwic <storedir> <docs> <term> <width> <outdir>
           |           textkwicbatch <storedir> <docs> <term,width;term,width;...> <outdir>
           |           textexpand <storedir> <docs> <w1,w2,...> <k> <outdir> [fbdocs] [fbterms]
           |           textexpandbatch <storedir> <docs> <w1,w2;w3,w4;...> <k> <outdir> [fbdocs] [fbterms]
           |           textvocab <storedir>
           |           textblockmax <storedir>
           |           textqueryp <storedir> <w1,w2,...> <k> <outdir>
           |           textquerysharded <dir1;dir2;...> <w1,w2,...> <k> <outdir>
           |           textlmrankp <storedir> <w1,w2,...> <k> <outdir> [mu]
           |           textquerypbatch <storedir> <w1,w2;w3,w4;...> <k> <outdir>
           |           textlmrankpbatch <storedir> <w1,w2;w3,w4;...> <k> <outdir> [mu]
           |           textwildcard <storedir> <prefix> <k> <outdir> [max_terms]
           |           textsuffix <storedir> <suffix> <k> <outdir> [max_terms]  (leading wildcard *fix)
           |           textwildcardbatch <storedir> <prefix;prefix;...> <k> <outdir> [max_terms]
           |           textfuzzy <storedir> <term> <max_dist> <k> <outdir> [max_terms]
           |           textfuzzybatch <storedir> <term,maxdist;term,maxdist;...> <k> <outdir> [max_terms]
           |           textregexp <storedir> <pattern> <k> <outdir> [max_terms]
           |           textregexpbatch <storedir> <pattern;pattern;...> <k> <outdir> [max_terms]
           |           textwildphrase <storedir> <slot;slot;...> <outdir> [max_terms]  (slot = term or pre*)
           |           textmultiphrasebatch <storedir> <'a|b c;d e|f'> <outdir>  (space = slot, | = alternative)
           |           textwildphrasebatch <storedir> <'table s*;vector w*'> <outdir> [max_terms]
           |           textfacets <storedir> <w1,w2,...> <docs> <facetcol> <outdir>
           |           textfacetrange <storedir> <w1,w2,...> <docs> <numcol> <b0,b1,...> <outdir>
           |           textfacettop <storedir> <w1,w2,...> <docs> <facetcol> <k> <outdir>
           |           textbm25f <field:storedir:boost:b;...> <w1,w2,...> <k> <outdir>
           |           textbm25fbatch <field:storedir:boost:b;...> <w1,w2|w3,w4|...> <k> <outdir>
           |           textfacetsbatch <storedir> <w1,w2;w3;...> <docs> <facetcol> <outdir>
           |           pqbuild <emb> <indexdir> [m] [k]
           |           pqquery <indexdir> <emb> <id> <topk>
           |           sq8build <emb> <storedir>
           |           sq8query <storedir> <id> <topk> <out>
           |classifier: clftrain <docs> <labelcol> <modeldir> [rounds] [lr]
           |           clfscore <docs> <modeldir> <out>
           |tokenizer: bpetrain <docs> <mergesdir> [merges]
           |           bpetokenize <docs> <mergesdir> <outdir>
           |analyze:   profile <parquet> <outdir> [col,col,...] [--approx]
           |ingest:    warcimport <warcdir> <docs.parquet>
           |store:     zonewrite <parquet> <storedir> <sortcol> [files]
           |           zoneappend <parquet> <storedir> <sortcol> [files]
           |           zonequery <storedir> <sortcol> <lo> <hi> <outdir>
           |           zorderwrite <parquet> <storedir> <colA> <colB> [files]
           |           zorderappend <parquet> <storedir> [files]
           |           vcommit <parquet> <storedir> <append|overwrite> [files]
           |           vread <storedir> <outdir> [version]
           |           vdiff <storedir> <from_v> <to_v> <outdir>
           |           vvacuum <storedir> <keep_last>
           |           vcompact <storedir> <n_files>
           |           indexedingest <batch.parquet> <storedir> <sortcol> <statscol,...> [bloomcol]
           |           compactstore <storedir> <sortcol> [target_mb]
           |           bloomindex <storedir> <keycol> [nbits] [hashes]
           |           bloomappend <storedir> <keycol>
           |           bloomquery <storedir> <keycol> <value> <outdir>
           |           corpusbuckets <docs.parquet> [--approx]
           |           knnlabel <labeled.parquet> <unlabeled.parquet> <outdir> [k]
           |graph:     pagerank <edges_parquet> <outdir> [iters] [damping]""".stripMargin)
      sys.exit(2)
  }

  /** modware-transform blast2chadogff3 analog (SURVEY.md §2.1 S7).
    * `--parts` emits the two-level match + match_part document
    * (the blast2gbrowsegff3 variant's shape, parent before children). */
  private def blast2Gff3(in: String, out: String): Unit = {
    val spark = GraftSession.local()
    val hsps = graft.transform.BlastToGff3.read(spark, in)
    val matches = graft.transform.BlastToGff3.toFeatures(hsps)
    if (withParts) {
      val matchFrame = matches.select(
        col("match_id").as("uniquename"), lit(null).cast("string").as("name"),
        lit("match").as("ftype"), col("subjectId").as("srcfeature"),
        col("fmin"), col("fmax"), col("score").cast("double").as("score"),
        col("strand"), lit(null).cast("int").as("phase"),
        lit("blast").as("source"), lit(null).cast("string").as("parent"))
      val doc = matchFrame.unionByName(
        graft.transform.BlastToGff3.toMatchParts(hsps))
      if (singleFile)
        Gff3Export.toGff3Lines(doc).coalesce(1).write.mode("overwrite").text(out)
      else
        Gff3Export.writePartitionedText(Gff3Export.linesWithKeys(doc),
          "srcfeature", out, col("type_rank"), col("fmin"), col("uniquename"))
    } else if (singleFile)
      graft.transform.BlastToGff3.toGff3Lines(matches)
        .coalesce(1).write.mode("overwrite").text(out)
    else
      Gff3Export.writePartitionedText(
        graft.transform.BlastToGff3.toGff3LinesBySubject(matches), "srcfeature", out)
    println(s"${matches.count()} match groups written to $out")
    spark.stop()
  }

  /** The dedicated GBrowse transform (lib/Modware/Transform/Command/
    * blast2gbrowsegff3.pm): two-level hit + match_part document with
    * the algorithm-typed column 3, `%.3g` scores, and `Parent`/`Target`
    * attributes. `--source blastn` sets column 2 and drives the type
    * guess; `--type protein_match` overrides the guess outright —
    * the reference's `source`/`primary_tag` options. */
  private def blast2GbrowseGff3(in: String, out: String): Unit = {
    val spark = GraftSession.local()
    val hsps = graft.transform.BlastToGff3.read(spark, in)
    val doc = graft.transform.BlastToGff3.toGbrowseLines(hsps,
      source = sourceOpt.getOrElse("blast"), primaryTag = typeOpt)
    if (singleFile) {
      // the reference prints the version pragma first (execute():215);
      // a doc_rank key sorts it ahead instead of relying on union order
      val header = spark.range(1).select(lit(0).as("doc_rank"),
        lit("").as("srcfeature"), lit(0).as("hit_fmin"),
        lit("").as("match_id"), lit(0).as("rank"), lit(0).as("fmin"),
        lit("##gff-version\t3").as("value"))
      doc.withColumn("doc_rank", lit(1)).unionByName(header)
        .orderBy(col("doc_rank"), col("srcfeature"), col("hit_fmin"),
          col("match_id"), col("rank"), col("fmin"))
        .select(col("value"))
        .coalesce(1).write.mode("overwrite").text(out)
    } else
      Gff3Export.writePartitionedText(doc, "srcfeature", out,
        col("hit_fmin"), col("match_id"), col("rank"), col("fmin"))
    println(s"gbrowse gff3 written to $out")
    spark.stop()
  }

  /** GenBank records to FASTA (SURVEY.md S6 + K5). */
  private def gb2Fasta(in: String, out: String): Unit = {
    val spark = GraftSession.local()
    val recs = graft.sources.GenBank.read(spark, in)
      .filter(_.sequence.nonEmpty).toDF()
    Fasta.write(recs, "locus", "sequence", out)
    println(s"${recs.count()} records written to $out")
    spark.stop()
  }

  /** Strain TSV import report: valid rows + resolved parent links
    * (SURVEY.md S8/J11). */
  private def stockReport(in: String): Unit = {
    val spark = GraftSession.local()
    val strains = graft.etl.StockImport.strains(spark, in)
    val withParents = graft.etl.StockImport.withParents(strains)
    val linked = withParents.filter(col("parent_descriptor").isNotNull).count()
    println(s"valid_strains=${strains.count()} parent_links=$linked")
    spark.stop()
  }

  /** One-shot drain of the file-watch incremental merge (§2.10 upgrade):
    * processes everything currently in `in`, merges novel rows by `keys`
    * (comma-separated) into the parquet store, then stops. */
  private def streamMerge(in: String, store: String, keys: String): Unit = {
    val spark = GraftSession.local()
    val schema = spark.read.parquet(in).schema
    val q = graft.streaming.StreamingMerge.fileWatchMerge(
      spark, in, schema, store, keys.split(",").toSeq)
    q.processAllAvailable()
    q.stop()
    println(s"store now has ${spark.read.parquet(store).count()} rows")
    spark.stop()
  }

  /** modware-report sumstatsongff3 analog (SURVEY.md §2.5 A4). */
  private def sumStats(in: String): Unit = {
    val spark = GraftSession.local()
    val bad = spark.sparkContext.longAccumulator("badRows")
    val stats = graft.report.SumStats.intronStats(
      Gff3.features(spark, in, Some(bad))).collect().head
    println(s"introns=${stats.getLong(0)} avg=${stats.getDouble(1)} " +
      s"max=${stats.getInt(2)} min=${stats.getInt(3)} bad_rows=${bad.value}")
    spark.stop()
  }

  private def gff3ToChado(in: String, out: String): Unit = {
    val spark = GraftSession.local()
    import spark.implicits._
    // the splittable DSv2 source: one huge GFF3 parallelizes by byte range
    val feats = spark.read.format("graft.sources.v2.Gff3DataSource")
      .load(in).as[graft.chado.GffRecord]
    mergeIntoStore(spark, feats, out)
    spark.stop()
  }

  /** gb2chado (SURVEY.md S6 + §3.2): GenBank scaffolds → FeatureStack
    * grouping → the same staging/merge DAG as the GFF3 load, incremental
    * and idempotent against an existing store. Scaffold ORIGIN sequences
    * persist to the store's `sequence` table (the chado `residues`
    * column) so the assembly loader can slice contig residues from them. */
  private def gb2Chado(in: String, out: String, mitochondrial: Boolean): Unit = {
    val spark = GraftSession.local()
    import spark.implicits._
    // parsed once for both consumers (feature merge + sequence table) —
    // without the cache the flat file is wholeTextFiles-read and
    // re-parsed from scratch for the residues projection
    val records = graft.sources.GenBank.read(spark, in).cache()
    val feats = graft.etl.GenBankToChado.toGffRecords(records, mitochondrial)
    mergeIntoStore(spark, feats, out)
    if (!dryRun) {
      val seqs = records.filter(_.sequence.nonEmpty)
        .map(r => (r.locus, r.sequence)).toDF("uniquename", "residues")
        .withColumn("md5checksum", md5(col("residues")))
      val n = upsertTable(spark, seqs, s"$out/sequence", Seq("uniquename"))
      println(f"sequence               $n%6d")
    }
    spark.stop()
  }

  /** gbassembly2chado (lib/Modware/Load/Command/gbassembly2chado.pm):
    * scaffold CONTIG join-lists → contig/gap features featureloc'd on the
    * already-loaded reference features, stitched through the standard
    * merge DAG; contig residues sliced set-wise from the store's scaffold
    * sequences. `refType` mirrors --reference_type (default supercontig);
    * `pub` mirrors --link_publication (contig features only,
    * Assembly.pm:548-585). Idempotent: a re-run inserts 0 everywhere. */
  private def gbAssembly2Chado(in: String, store: String, refType: String,
                               pub: Option[String]): Unit = {
    val spark = GraftSession.local()
    // "The top level features has to be loaded in database"
    // (gbassembly2chado.pm:131-136) — no store means no scaffolds
    if (!new java.io.File(s"$store/feature").exists()) {
      System.err.println(s"no store at $store: load the scaffolds first (gb2chado)")
      sys.exit(2)
    }
    val records = graft.sources.GenBank.read(spark, in)
    // materialized once: the scaffold gate, merge staging, residue slice
    // and pub link all reuse the walked segments
    val all = graft.etl.AssemblyToChado.segments(records).localCheckpoint()
    val segs = graft.etl.AssemblyToChado
      .onLoadedScaffolds(all, spark.read.parquet(s"$store/feature"), refType)
      .localCheckpoint()
    val dropped = all.count() - segs.count()
    if (dropped > 0)
      println(s"warning: $dropped segment(s) on unloaded scaffolds skipped")
    mergeIntoStore(spark, graft.etl.AssemblyToChado.toGffRecords(segs), store)
    if (!dryRun) {
      val seqPath = s"$store/sequence"
      if (new java.io.File(seqPath).exists()) {
        val contigSeqs = graft.etl.AssemblyToChado
          .contigSequences(segs, spark.read.parquet(seqPath))
        val n = upsertTable(spark, contigSeqs, seqPath, Seq("uniquename"))
        println(f"sequence               $n%6d")
      } else println("no sequence table in store: contig residues skipped")
      pub.foreach { pubId =>
        val links = segs.toDF().filter(col("ftype") === "contig")
          .select(col("uniquename"), lit(pubId).as("pub"))
        val n = upsertTable(spark, links, s"$store/feature_pub",
          Seq("uniquename", "pub"))
        println(f"feature_pub            $n%6d")
      }
    }
    spark.stop()
  }

  private def upsertTable(spark: org.apache.spark.sql.SparkSession,
                          df: org.apache.spark.sql.DataFrame, path: String,
                          keys: Seq[String]): Long =
    graft.sinks.ParquetUpsert(spark, df, path, keys)

  private def mergeIntoStore(spark: org.apache.spark.sql.SparkSession,
      feats: org.apache.spark.sql.Dataset[graft.chado.GffRecord],
      out: String): Unit = {
    // incremental: an existing store is the live side (the reference's
    // re-load path, ChadoGFF3UpdateRunner) — only deltas are inserted;
    // --feature-version is the FeatureVersion plugin (gff3tochado.pm:263-269)
    printCounts(Gff3ToChado.loadInto(spark, feats, out, featureVersion, dryRun), 22)
    println(if (dryRun) "dry run: no store write" else s"store written to $out")
  }

  private def printCounts(counts: Map[String, Long], width: Int): Unit =
    counts.toSeq.sortBy(_._1).foreach { case (t, n) =>
      println(s"%-${width}s %6d".format(t, n))
    }

  /** obo2chado; with metadata = false it is adhocobo2chado
    * (lib/Modware/Load/Command/adhocobo2chado.pm:16-23: terms +
    * relationships only, synonyms/alt_ids skipped unless
    * --include-metadata). */
  private def obo2Chado(in: String, out: String,
                        metadata: Boolean = true): Unit = {
    val spark = GraftSession.local()
    // version gate (Ontology.pm:206-239): only load when the file's
    // header date is newer than the store's recorded date
    val header = Obo.header(spark, in)
    val fileDate = Obo.headerDate(header)
    val metaFile = new java.io.File(s"$out/cv_metadata.txt")
    val storeDate =
      if (metaFile.exists())
        Obo.headerDate(Map("date" -> java.nio.file.Files.readString(metaFile.toPath).trim))
      else None
    (fileDate, storeDate) match {
      case (Some(f), Some(s)) if !f.isAfter(s) && !force =>
        println(s"ontology date $f is not newer than store date $s; " +
          "skipping load (--force overrides)")
        spark.stop(); return
      case _ => ()
    }
    // incremental: an existing store is the live side — re-loads compute
    // prune/update/insert deltas (the reference's versioned re-load,
    // obo2chado-core-update.t)
    printCounts(OntologyMerge.loadInto(spark, Obo.terms(spark, in),
      Obo.relationships(spark, in), out, metadata, dryRun), 22)
    if (dryRun) { println("dry run: no store write"); spark.stop(); return }
    // record the loaded version for the next run's gate (the cvprop
    // `date` row, Ontology.pm:241-293)
    header.get("date").foreach { d =>
      new java.io.File(out).mkdirs()
      java.nio.file.Files.writeString(metaFile.toPath, d)
    }
    println(s"store written to $out")
    spark.stop()
  }

  /** Canonical GFF3 export FROM the relational store (SURVEY.md §3.3 as
    * set-based joins — the reference's per-row ORM walk becomes one
    * feature ⋈ featureloc ⋈ relationship pass + ordered write).
    * `refOnly` limits the dump to one reference — with the partitioned
    * featureloc layout that filter becomes a partition-pruned scan (one
    * srcfeature=... directory read, not the table). */
  private def store2Gff3(storeDir: String, out: String,
      refOnly: Option[String]): Unit = {
    val spark = GraftSession.local()
    // tables read with their footer schemas: no inference job per table
    def t(name: String) = ParquetUpsert.readKnown(spark, s"$storeDir/$name")
    val feature = t("feature")
    val locAll = t("featureloc").filter(col("rank") === 0)
    val loc = refOnly.fold(locAll)(r => locAll.filter(col("srcfeature") === r))
    val rel = t("feature_relationship")
      .filter(col("reltype") === "part_of")
      .select(col("subject"), col("object").as("parent"))
    val frame = feature
      .join(loc, Seq("uniquename"))
      .join(rel, feature("uniquename") === rel("subject"), "left_outer")
      .select(col("uniquename"),
        // staging falls back name := uniquename; don't re-emit the echo
        nullif(col("name"), col("uniquename")).as("name"),
        col("ftype"), col("srcfeature"),
        col("fmin"), col("fmax"), lit(null).cast("double").as("score"),
        col("strand"), col("phase"), lit(null).cast("string").as("source"),
        col("parent"))
      // the write, the reference lengths and the printed count all read
      // this one materialization instead of each re-running the joins
      .localCheckpoint()
    val refs = frame.filter(col("ftype").isin("chromosome", "contig", "supercontig"))
      .select(col("uniquename"), (col("fmax") - col("fmin")).as("seqlen"))
    Gff3Export.writeDocument(refs, frame, out, singleFile)
    println(s"gff3 written to $out (${frame.count()} feature lines)")
    spark.stop()
  }

  /** The five dicty house GFF3 dumps (lib/Modware/Export/Command/
    * chado2dicty*gff3.pm) over the parquet store — each variant is one
    * declarative join pass in export/DictyGff3Export. The canonical
    * family writes `##sequence-region` headers; the noncanonical pair
    * defaults them off like the reference commands. */
  private def dictyGff3(storeDir: String, out: String, variant: String,
      source: Option[String] = None, ref: Option[String] = None): Unit = {
    val spark = GraftSession.local()
    def t(name: String) = ParquetUpsert.readKnown(spark, s"$storeDir/$name")
    // reference_id scoping (chado2dictycanonicalgff3.pm reference_id):
    // with the srcfeature-partitioned featureloc layout this filter is a
    // partition-pruned scan, and every downstream join inner-joins loc
    val locAll = t("featureloc")
    val c = graft.export.DictyGff3Export.Chado(
      feature = t("feature"),
      featureloc = ref.fold(locAll)(r => locAll.filter(col("srcfeature") === r)),
      featureRelationship = t("feature_relationship"),
      featureDbxref = t("feature_dbxref"),
      featureSynonym = t("feature_synonym"))
    import graft.export.DictyGff3Export
    val (frame, regions) = variant match {
      case "canonical" => (DictyGff3Export.canonical(c), true)
      case "curated" => (DictyGff3Export.curated(c), true)
      case "noncoding" => (DictyGff3Export.noncoding(c), true)
      case "noncanonical" =>
        (DictyGff3Export.noncanonical(c,
          source.getOrElse(DictyGff3Export.SeqCenter)), false)
      case "noncanonicalv2" =>
        (DictyGff3Export.noncanonicalV2(c,
          featureType = featureTypeOpt.getOrElse("mRNA"),
          subfeatureType = subfeatureTypeOpt.getOrElse("exon"),
          source = source.getOrElse(DictyGff3Export.Reprediction)), false)
    }
    val refsAll = c.feature.filter(col("ftype") === "chromosome")
      .select(col("uniquename"), col("seqlen"))
    val refs = ref.fold(refsAll)(r => refsAll.filter(col("uniquename") === r))
    Gff3Export.writeDocument(refs, frame, out, singleFile,
      sequenceRegion = regions)
    println(s"gff3 written to $out (${frame.count()} feature lines)")
    spark.stop()
  }

  /** Relational feature frame from a parsed GFF3 (the staging shape the
    * exporters consume). */
  private def gffFeatureFrame(spark: org.apache.spark.sql.SparkSession,
      in: String): org.apache.spark.sql.DataFrame =
    Gff3.features(spark, in).toDF()
      .withColumn("uniquename",
        coalesce(expr("element_at(attributes, 'ID')[0]"),
          concat_ws(":", col("ftype"), col("seqId"), col("fmin"), col("fmax"))))
      .select(col("uniquename"),
        expr("element_at(attributes, 'Name')[0]").as("name"),
        col("ftype"), col("seqId").as("srcfeature"),
        col("fmin"), col("fmax"), col("score"), col("strand"), col("phase"),
        col("source"),
        expr("element_at(attributes, 'Parent')[0]").as("parent"))

  /** Round-trip export: parse a GFF3, re-emit canonical ordered GFF3. */
  private def chado2Gff3(in: String, out: String): Unit = {
    val spark = GraftSession.local()
    val rec = gffFeatureFrame(spark, in)
    val refs = rec.filter(col("ftype").isin("chromosome", "contig", "supercontig"))
      .select(col("uniquename"), (col("fmax") - col("fmin")).as("seqlen"))
    Gff3Export.writeDocument(refs, rec, out, singleFile)
    println(s"gff3 written to $out (${rec.count()} feature lines)")
    spark.stop()
  }

  /** Structural OBO validation report (fills the reference's empty
    * Validate/Obo hook): duplicate ids, dangling relationship
    * endpoints, relationships on obsolete terms. Non-zero exit on
    * findings so pipelines can gate the load. */
  private def validateObo(in: String): Unit = {
    val spark = GraftSession.local()
    val st = OntologyMerge.stage(spark, Obo.terms(spark, in), Obo.relationships(spark, in))
    val findings = OntologyMerge.validate(st).collect()
    findings.foreach(r => println(s"${r.getString(0)}\t${r.getString(1)}"))
    println(s"${findings.length} findings")
    spark.stop()
    if (findings.nonEmpty) sys.exit(1)
  }

  /** bibtex2chado (lib/Modware/Load/Command/bibtex2chado.pm): parse a
    * .bib file and merge novel pubs (by uniquename) into the store's
    * pub table — idempotent re-loads insert nothing. */
  private def bibtex2Chado(in: String, store: String): Unit = {
    val spark = GraftSession.local()
    val staging = graft.sources.BibTex.read(spark, in).dropDuplicates("uniquename")
    val path = s"$store/pub"
    val live = {
      val read =
        if (new java.io.File(path).exists()) spark.read.parquet(path)
        else staging.limit(0)
      // schema evolution, write side: a pre-pubplace store defaults to
      // PUBMED loads (the same rule the chadopub2bib read path applies)
      // so the merged union always carries the full column set
      if (read.columns.contains("pubplace")) read
      else read.withColumn("pubplace", lit("PUBMED"))
    }
    val novel = staging.join(live.select(col("uniquename")),
      Seq("uniquename"), "left_anti").localCheckpoint()
    val n = novel.count()
    if (!dryRun) live.unionByName(novel).localCheckpoint()
      .write.mode("overwrite").parquet(path)
    println(s"pub inserted=$n")
    spark.stop()
  }

  /** chadopub2bib: export the store's PUBMED pubs as BibTeX records
    * (the engine half of lib/Modware/Export/Command/chadopub2bib.pm:84 —
    * `pubplace = 'PUBMED'`; the PubMed HTTP/XSLT fetch is driver-side,
    * SURVEY.md S11). `nonpub = true` is dictynonpub2bib: the complement
    * predicate (`pubplace != 'PUBMED'`, dictynonpub2bib.pm:47-56),
    * written one directory per source — the reference's
    * one-file-per-pubplace loop as a partitioned write. */
  private def chadoPub2Bib(store: String, out: String,
                           nonpub: Boolean = false): Unit = {
    val spark = GraftSession.local()
    val read = spark.read.parquet(s"$store/pub")
    // pre-pubplace stores carry only PUBMED loads (the loader default),
    // so they get the default column — NOT a filter bypass, which would
    // send every pub to the non-pubmed dump
    val all =
      if (read.columns.contains("pubplace")) read
      else read.withColumn("pubplace", lit("PUBMED"))
    val pubs =
      if (nonpub) all.filter(col("pubplace") =!= "PUBMED")
      else all.filter(col("pubplace") === "PUBMED")
    if (nonpub) {
      graft.export.PubExport.bibRecordsKeyed(pubs)
        .select(col("value"), col("pubplace"))
        .write.mode("overwrite").partitionBy("pubplace").text(out)
      println(s"non-pubmed bib written to $out (${pubs.count()} records)")
    } else {
      // partitioned by default like every other export; --single-file
      // opts into the reference's one-file dump (chadopub2bib.pm)
      val lines = graft.export.PubExport.bibRecords(pubs)
      (if (singleFile) lines.coalesce(1) else lines)
        .write.mode("overwrite").text(out)
      println(s"bib written to $out (${pubs.count()} records)")
    }
    spark.stop()
  }

  /** Shared writer for the CRM CSV dumps: default partitioned text
    * (the global orderBy range-partitions, so the header line still
    * lands first in part-00000); --single-file mirrors the reference's
    * one-file/STDOUT dump. The row count rides the write itself
    * (Observation) — no second scan for the log line. */
  private def writeCsv(lines: org.apache.spark.sql.DataFrame, out: String): Long = {
    val obs = org.apache.spark.sql.Observation()
    val observed = lines.observe(obs, count(lit(1)).as("rows"))
    (if (singleFile) observed.coalesce(1) else observed)
      .write.mode("overwrite").text(out)
    obs.get("rows").asInstanceOf[Long] - 1 // minus the header line
  }

  /** colleague (lib/Modware/Export/Command/colleague.pm): the
    * colleague CSV + group-leader relations CSV from a directory of
    * legacy-table TSVs (colleague, coll_email, email, coll_phone,
    * phone, colleague_remark, pi). */
  private def colleague(dataDir: String, cout: String, relout: String): Unit = {
    val spark = GraftSession.local()
    def tsv(n: String, cols: String*) =
      graft.etl.StockImport.tsv(spark, s"$dataDir/$n.tsv", cols)
    val collEmail = tsv("coll_email", "colleague_no", "email_no")
    val email = tsv("email", "email_no", "email")
    val rows = graft.export.CrmExport.colleagueRows(
      tsv("colleague", "colleague_no", "first_name", "last_name", "suffix",
        "profession", "job_title", "institution", "address1", "address2",
        "address3", "address4", "city", "state", "region", "country",
        "postal_code", "is_subscribed"),
      collEmail, email,
      tsv("coll_phone", "colleague_no", "phone_no"),
      tsv("phone", "phone_no", "phone_num"),
      tsv("colleague_remark", "colleague_no", "remark"))
    val n = writeCsv(graft.export.CrmExport.colleagueCsvLines(rows), cout)
    val rels = graft.export.CrmExport.colleagueRelations(
      tsv("pi", "pi_no", "colleague_no"), collEmail, email)
    val rn = writeCsv(graft.export.CrmExport.colleagueRelationCsvLines(rels), relout)
    println(s"written $n colleague entries")
    println(s"written $rn colleague relation")
    spark.stop()
  }

  /** colleague2gene (lib/Modware/Export/Command/colleague2gene.pm):
    * one CSV row per colleague email with its gene ids (TSVs: email,
    * coll_email, coll_locus, feature). */
  private def colleague2Gene(dataDir: String, out: String): Unit = {
    val spark = GraftSession.local()
    def tsv(n: String, cols: String*) =
      graft.etl.StockImport.tsv(spark, s"$dataDir/$n.tsv", cols)
    val rows = graft.export.CrmExport.colleagueGenes(
      tsv("email", "email_no", "email"),
      tsv("coll_email", "colleague_no", "email_no"),
      tsv("coll_locus", "colleague_no", "locus_no"),
      tsv("feature", "feature_id", "uniquename"))
    val n = writeCsv(graft.export.CrmExport.colleagueGeneCsvLines(rows), out)
    println(s"written $n colleague-gene rows")
    spark.stop()
  }

  /** curatornotes (lib/Modware/Export/Command/curatornotes.pm): gene
    * accession → public/private curator notes (TSVs: featureprop,
    * feature, dbxref). */
  private def curatorNotes(dataDir: String, note: String, out: String): Unit = {
    val spark = GraftSession.local()
    def tsv(n: String, cols: String*) =
      graft.etl.StockImport.tsv(spark, s"$dataDir/$n.tsv", cols)
    val rows = graft.export.CrmExport.curatorNotes(
      tsv("featureprop", "feature_id", "prop_type", "note"),
      tsv("feature", "feature_id", "ftype", "dbxref_id", "is_deleted"),
      tsv("dbxref", "dbxref_id", "accession"), note)
    val n = writeCsv(graft.export.CrmExport.curatorNoteCsvLines(rows), out)
    println(s"written $n $note-note rows")
    spark.stop()
  }

  /** dscorders (lib/Modware/Export/Command/dscorders.pm): plasmid and
    * strain order CSVs (TSVs: plasmid, stock_item_order, stock_order,
    * coll_email, email, stock_center, dbxref). */
  private def dscOrders(dataDir: String, pout: String, sout: String): Unit = {
    val spark = GraftSession.local()
    def tsv(n: String, cols: String*) =
      graft.etl.StockImport.tsv(spark, s"$dataDir/$n.tsv", cols)
    val plasmid = tsv("plasmid", "name")
    val sitem = tsv("stock_item_order", "stock_item_order_id", "item", "item_id")
    val sorder = tsv("stock_order", "stock_order_id", "colleague_id", "order_date")
    val collEmail = tsv("coll_email", "colleague_no", "email_no")
    val email = tsv("email", "email_no", "email")
    val p = graft.export.CrmExport.plasmidOrders(
      plasmid, sitem, sorder, collEmail, email)
    val pn = writeCsv(
      graft.export.CrmExport.orderCsvLines(p, "name", "Name"), pout)
    println(s"finished writing plasmid orders ($pn)")
    val s = graft.export.CrmExport.strainOrders(
      plasmid, sitem, sorder, collEmail, email,
      tsv("stock_center", "id", "dbxref_id"),
      tsv("dbxref", "dbxref_id", "accession"))
    val sn = writeCsv(
      graft.export.CrmExport.orderCsvLines(s, "strain_id", "Strain_id"), sout)
    println(s"finished writing strain orders ($sn)")
    spark.stop()
  }

  /** dictypub (lib/Modware/Export/Command/dictypub.pm:63-113): the
    * gene↔publication link dump — TSV frames in, ordered
    * pubmed/gene/DDB-id lines out via PubExport.genePubLinks. */
  private def dictyPub(featurePubPath: String, genesPath: String,
                       pubsPath: String, ddbMapPath: String, out: String): Unit = {
    val spark = GraftSession.local()
    def tsv(p: String, cols: String*) =
      graft.etl.StockImport.tsv(spark, p, cols)
    val lines = graft.export.PubExport.genePubLinks(
      tsv(featurePubPath, "gene_id", "pub_id"),
      tsv(genesPath, "gene_id", "name", "is_deleted"),
      tsv(pubsPath, "pub_id", "uniquename", "pubplace"),
      tsv(ddbMapPath, "gene_id", "ddb_id"))
    (if (singleFile) lines.coalesce(1) else lines)
      .write.mode("overwrite").text(out)
    println(s"gene-pub links written to $out (${lines.count()} rows)")
    spark.stop()
  }

  /** dictypubannotation (lib/Modware/Export/Command/
    * dictypubannotation.pm): per-(gene, pub) annotation rows with their
    * curation props pipe-folded on. */
  private def dictyPubAnnotation(featurePubPath: String, pubpropsPath: String,
                                 out: String): Unit = {
    val spark = GraftSession.local()
    def tsv(p: String, cols: String*) =
      graft.etl.StockImport.tsv(spark, p, cols)
    val lines = graft.export.PubExport.pubAnnotations(
      tsv(featurePubPath, "accession", "pubmed"),
      tsv(pubpropsPath, "accession", "pubmed", "prop"))
    (if (singleFile) lines.coalesce(1) else lines)
      .write.mode("overwrite").text(out)
    println(s"pub annotations written to $out (${lines.count()} rows)")
    spark.stop()
  }

  /** pub2bib (lib/Modware/Transform/Command/pub2bib.pm): PubMed efetch
    * XML → BibTeX. The HTTP fetch half is driver-side (SURVEY.md S11);
    * this is the file-to-file transform the XSLT performs there. */
  private def pub2Bib(in: String, out: String): Unit = {
    val spark = GraftSession.local()
    val articles = graft.transform.PubmedToBib.read(spark, in)
    val bib = graft.transform.PubmedToBib.toBibtex(articles)
    (if (singleFile) bib.coalesce(1) else bib)
      .write.mode("overwrite").text(out)
    println(s"bib written to $out (${articles.count()} articles)")
    spark.stop()
  }

  /** dictybib (lib/Modware/Update/Command/dictybib.pm): stamp un-dated
    * BibTeX entries with the pub store's created_at date; entries
    * already stamped or unknown to the store are skipped. */
  private def dictyBib(in: String, store: String, out: String): Unit = {
    val spark = GraftSession.local()
    val pubs = spark.read.parquet(s"$store/pub")
    require(pubs.columns.contains("created_at"),
      "dictybib needs a pub table with created_at (dd-MMM-yy), like the dicty schema")
    val updated = graft.transform.PubmedToBib.dictybib(
      graft.sources.BibTex.records(spark, in), pubs)
    (if (singleFile) updated.coalesce(1) else updated)
      .write.mode("overwrite").text(out)
    println(s"updated bib written to $out (${updated.count()} entries)")
    spark.stop()
  }

  /** chado2alignmentgff3: alignment features from the store with Target
    * attributes rebuilt from rank-1 featurelocs (W2) and scores from
    * analysisfeature. */
  private def store2AlignmentGff3(store: String, out: String): Unit = {
    val spark = GraftSession.local()
    val lines = Gff3Export.alignmentLinesKeyed(
      spark.read.parquet(s"$store/feature"),
      spark.read.parquet(s"$store/featureloc"),
      spark.read.parquet(s"$store/analysisfeature"))
    // a whole-genome alignment dump is fact-sized: partitioned
    // per-reference write by default, one global file only on opt-in
    if (singleFile)
      lines.orderBy(col("value")).select(col("value"))
        .coalesce(1).write.mode("overwrite").text(out)
    else
      Gff3Export.writePartitionedText(lines, "srcfeature", out)
    println(s"alignment gff3 written to $out (${lines.count()} lines)")
    spark.stop()
  }

  /** dropontofromchado: remove one ontology namespace (terms, synonyms,
    * alt_ids, touching relationships) from the cv store. */
  private def dropOntoFromChado(store: String, ns: String): Unit = {
    val spark = GraftSession.local()
    val cv = OntologyMerge.CvStore.of(
      OntologyMerge.CvStore.tables.map(t => spark.read.parquet(s"$store/$t")))
    val res = OntologyMerge.dropOntology(cv, ns)
    printCounts(res.counts, 24)
    if (dryRun) { println("dry run: no store write"); spark.stop(); return }
    OntologyMerge.CvStore.tables.zip(res.store.frames).foreach { case (t, df) =>
      graft.sinks.StoreMaintenance.overwriteViaSwap(df, s"$store/$t")
    }
    println(s"namespace $ns dropped from $store")
    spark.stop()
  }

  /** chado2genesummary (SURVEY.md J12+F14,
    * lib/Modware/Export/Command/chado2genesummary.pm:92-123): join the
    * featureprop paragraph pointers (TSV: gene_id, paragraph_no) to the
    * legacy paragraph table (TSV: paragraph_no, html), convert HTML to
    * wiki markup, write the summary TSV. The same library call accepts
    * two JDBC frames for real cross-schema stores (ExportStreamSpec). */
  private def chado2GeneSummary(propsPath: String, paragraphsPath: String,
      out: String): Unit = {
    val spark = GraftSession.local()
    val props = spark.read.option("sep", "\t").csv(propsPath)
      .toDF("gene_id", "paragraph_no")
    val paragraphs = spark.read.option("sep", "\t").csv(paragraphsPath)
      .toDF("paragraph_no", "html")
    val lines = graft.export.GeneSummary.toTsvLines(
      graft.export.GeneSummary.export(props, paragraphs))
    // featureprop-joined output is fact-sized: partitioned write by
    // default like the GFF3/GAF exports; --single-file mirrors the
    // reference's one-file dump (chado2genesummary.pm)
    (if (singleFile) lines.coalesce(1) else lines)
      .write.mode("overwrite").text(out)
    println(s"gene summaries written to $out (${lines.count()} rows)")
    spark.stop()
  }

  /** modware-dump dictystrain (lib/Modware/Dump/Command/dictystrain.pm):
    * strain + inventory TSV files from the stock frames. */
  private def dictyStrain(strainsPath: String, propsPath: String, out: String): Unit = {
    val spark = GraftSession.local()
    val strains = graft.etl.StockImport.strains(spark, strainsPath)
    val props = graft.etl.StockImport.props(spark, propsPath)
    graft.export.StockExport.strainLines(strains, props)
      .coalesce(1).write.mode("overwrite").text(s"$out/strain")
    graft.export.StockExport.inventoryLines(props)
      .coalesce(1).write.mode("overwrite").text(s"$out/inventory")
    Seq("publications", "genotype", "phenotype", "genes", "characteristics")
      .foreach { kind =>
        graft.export.StockExport.propKindLines(props, kind)
          .coalesce(1).write.mode("overwrite").text(s"$out/$kind")
      }
    graft.export.StockExport.allPropLines(props)
      .coalesce(1).write.mode("overwrite").text(s"$out/props")
    graft.export.StockExport.parentLines(strains)
      .coalesce(1).write.mode("overwrite").text(s"$out/parent")
    println(s"strain=${strains.count()} dumped to $out")
    spark.stop()
  }

  /** Corpus dedup end-to-end (scale extension): exact content dedup,
    * then MinHash+LSH near-dup candidates clustered via connected
    * components; one keeper (min doc id) survives per cluster. Writes
    * the deduplicated corpus as parquet and prints the accounting. */
  private def corpusDedup(in: String, out: String): Unit = {
    val spark = GraftSession.local()
    val docs = spark.read.parquet(in)
    val total = docs.count()
    // exact first: near-dup candidate generation then never sees copies
    val keepIds = graft.operators.Dedup.exact(docs, "doc_id", "text")
      .select(col("keep_id").as("doc_id"))
    val uniq = docs.join(keepIds, Seq("doc_id"), "left_semi")
    val sig = graft.operators.Dedup.minhashSignatureDirect(uniq, "doc_id", "text", 3, 8)
    val pairs = graft.operators.Dedup.lshCandidates(sig, 8, 4)
    val clusters = graft.operators.Components.duplicateClusters(pairs)
    val dropNearDups = clusters.filter(col("doc_id") =!= col("cluster"))
      .select(col("doc_id"))
    val kept = uniq.join(dropNearDups, Seq("doc_id"), "left_anti")
    kept.write.mode("overwrite").parquet(out)
    val nKept = spark.read.parquet(out).count()
    println(s"docs=$total exact_unique=${uniq.count()} kept=$nKept -> $out")
    spark.stop()
  }

  /** Incremental dedup ingest (the q142 store lifecycle as a verb): a
    * batch of documents is deduped against the persisted (band, bucket)
    * signature store, novel signatures are appended, and `--compact`
    * rewrites the store to ~64 MB files so continuous per-batch appends
    * don't decay into a small-file hazard. */
  private def dedupIngest(batch: String, storeDir: String, out: String): Unit = {
    val spark = GraftSession.local()
    val (nDocs, nDupes, filesAfter) = graft.operators.Dedup.ingestBatch(
      spark.read.parquet(batch), "doc_id", "text", storeDir, out,
      compactTargetBytes = if (compactStore) Some(64L << 20) else None)
    val compactMsg = if (filesAfter >= 0) s" store_files=$filesAfter" else ""
    println(s"batch=$nDocs duplicates=$nDupes -> $out; store=$storeDir$compactMsg")
    spark.stop()
  }

  /** Benchmark decontamination end-to-end: corpus docs sharing any
    * 3-gram with the benchmark set are dropped; the clean corpus is
    * written as parquet with contamination accounting printed. */
  private def decontaminate(corpusPath: String, benchPath: String, out: String): Unit = {
    val spark = GraftSession.local()
    val corpus = spark.read.parquet(corpusPath)
    val bench = spark.read.parquet(benchPath)
    val hits = graft.operators.Curation.contaminated(
      graft.operators.Dedup.shingles(corpus, "doc_id", "text", 3),
      graft.operators.Dedup.shingles(bench, "doc_id", "text", 3))
    val clean = corpus.join(hits.select(col("doc_id")), Seq("doc_id"), "left_anti")
    clean.write.mode("overwrite").parquet(out)
    println(s"corpus=${corpus.count()} contaminated=${hits.count()} " +
      s"clean=${spark.read.parquet(out).count()} -> $out")
    spark.stop()
  }

  /** Content-keyed train/val/test split (q45 semantics: dup-stable,
    * reproducible) written as split-partitioned parquet — downstream
    * training jobs read one partition directory per split. */
  private def corpusSplit(in: String, out: String): Unit = {
    val spark = GraftSession.local()
    val docs = spark.read.parquet(in)
      .withColumn("split",
        when(expr("substring(md5(text), 1, 1)") < "c", "train")
          .when(expr("substring(md5(text), 1, 1)") < "e", "val")
          .otherwise("test"))
    docs.write.mode("overwrite").partitionBy("split").parquet(out)
    val counts = spark.read.parquet(out).groupBy(col("split")).count()
      .orderBy(col("split")).collect()
      .map(r => s"${r.getString(0)}=${r.getLong(1)}").mkString(" ")
    println(s"$counts -> $out")
    spark.stop()
  }

  /** Training-shard production: PII scrub -> deterministic mixture
    * resample to target stratum weights ("en=0.25,de=0.2,...") ->
    * md5-derived shard assignment -> shard-partitioned parquet. The
    * whole pipeline is map-only after one tiny per-stratum count, so
    * the single exchange is the partitioned write itself. */
  private def corpusMix(in: String, out: String, weights: String,
                        nShards: Int): Unit = {
    val spark = GraftSession.local()
    val w = weights.split(",").toSeq.map { kv =>
      kv.split("=") match {
        case Array(k, v) if v.toDoubleOption.exists(_ > 0) =>
          k -> v.toDouble
        case _ =>
          System.err.println(
            s"corpusmix: bad weight entry '$kv' (want stratum=positive-number, e.g. en=0.25)")
          sys.exit(2)
      }
    }.toMap
    val docs = spark.read.parquet(in)
    val scrubbed = graft.operators.Curation
      .scrub(docs, "text", graft.operators.Curation.piiPatterns)
      .drop("text").withColumnRenamed("clean", "text")
    val mixed = graft.operators.Curation
      .resampleToMixture(scrubbed, "lang", "doc_id", w)
    // co-locate each shard before the partitioned write: without this,
    // every task writes a fragment into every shard directory
    // (tasks × shards small files); with it, one file per shard
    graft.operators.Curation.shardAssign(mixed, "doc_id", nShards)
      .repartition(nShards, col("shard"))
      .write.mode("overwrite").partitionBy("shard").parquet(out)
    val counts = spark.read.parquet(out).groupBy(col("lang")).count()
      .orderBy(col("lang")).collect()
      .map(r => s"${r.getString(0)}=${r.getLong(1)}").mkString(" ")
    println(s"kept $counts shards=$nShards -> $out")
    spark.stop()
  }

  /** Corpus on-ramp: normalize a JSONL / CSV / parquet document dump
    * into the canonical documents schema
    * (doc_id, text, lang, source, n_chars) as parquet. Missing doc_id
    * is derived from the content hash (first 15 md5 hex digits —
    * deterministic across runs and engines; exact duplicates collide
    * on purpose, they are duplicates); missing lang becomes 'und';
    * missing source becomes the input path. */
  private def corpusImport(in: String, fmt: String, out: String): Unit = {
    val spark = GraftSession.local()
    val raw = fmt match {
      case "jsonl" | "json" => spark.read.json(in)
      case "csv" => spark.read.option("header", "true").csv(in)
      case "parquet" => spark.read.parquet(in)
      case other =>
        System.err.println(s"corpusimport: unknown format '$other' (jsonl|csv|parquet)")
        sys.exit(2)
    }
    if (!raw.columns.contains("text")) {
      System.err.println("corpusimport: input needs a 'text' column")
      sys.exit(2)
    }
    val hashId = expr("cast(conv(substring(md5(text), 1, 15), 16, 10) as long)")
    val withId =
      if (raw.columns.contains("doc_id"))
        raw.withColumn("doc_id", coalesce(col("doc_id").cast("long"), hashId))
      else raw.withColumn("doc_id", hashId)
    val docs = withId
      .withColumn("lang",
        if (raw.columns.contains("lang")) coalesce(col("lang"), lit("und")) else lit("und"))
      .withColumn("source",
        if (raw.columns.contains("source")) coalesce(col("source"), lit(in)) else lit(in))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .select("doc_id", "text", "lang", "source", "n_chars")
    docs.write.mode("overwrite").parquet(out)
    println(s"imported ${spark.read.parquet(out).count()} docs ($fmt) -> $out")
    spark.stop()
  }

  /** corpusexport: the emit side of the corpus lifecycle — write the
    * curated parquet corpus as the gzipped jsonl (or csv/parquet) shards
    * a training run consumes. With `nShards`, rows get the deterministic
    * md5 shard of `Curation.shardAssign` (q72 semantics: breaks
    * source/time locality, unbiased per-shard samples) and land as one
    * `shard=N/` directory each; the partitioned write is the only
    * exchange. */
  private def corpusExport(in: String, out: String, fmt: String,
      nShards: Option[Int]): Unit = {
    val spark = GraftSession.local()
    val raw = spark.read.parquet(in)
    // csv can't carry array/struct/map columns (AnalysisException at
    // write time) — stringify them as JSON so tokenized shards export
    val docs =
      if (fmt != "csv") raw
      else {
        import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
        val nonAtomic = raw.schema.fields.filter(f => f.dataType match {
          case _: ArrayType | _: MapType | _: StructType => true
          case _ => false
        })
        if (nonAtomic.nonEmpty) System.err.println(
          s"corpusexport: csv carries ${nonAtomic.map(_.name).mkString(",")} as JSON strings")
        nonAtomic.foldLeft(raw)((d, f) =>
          d.withColumn(f.name, to_json(col(f.name))))
      }
    // count rides the write itself (Observation) — no second scan
    val obs = org.apache.spark.sql.Observation("corpusexport")
    val observed = docs.observe(obs, count(lit(1)).as("rows"))
    val writer = nShards match {
      case Some(n) =>
        graft.operators.Curation.shardAssign(observed, "doc_id", n)
          .repartition(col("shard"))
          .write.mode("overwrite").partitionBy("shard")
      case None => observed.write.mode("overwrite")
    }
    fmt match {
      case "jsonl" | "json" => writer.option("compression", "gzip").json(out)
      case "csv" => writer.option("header", "true")
        .option("compression", "gzip").csv(out)
      case "parquet" => writer.parquet(out)
      case other =>
        System.err.println(s"corpusexport: unknown format '$other' (jsonl|csv|parquet)")
        spark.stop(); sys.exit(2)
    }
    println(s"exported ${obs.get("rows")} docs ($fmt" +
      nShards.fold("")(n => s", $n shards") + s") -> $out")
    spark.stop()
  }

  /** Incremental corpus ingest from a drop directory: every parquet
    * file under `in` flows through the streaming curation transform
    * (gate -> watermarked dedup -> split, graft.streaming.CorpusIngest)
    * into the output store. Trigger.AvailableNow drains what exists and
    * exits — cron-able; a long-running deployment drops the trigger
    * and keeps the same checkpointed query. */
  private def corpusIngest(in: String, out: String): Unit = {
    val spark = GraftSession.local()
    val schema = spark.read.parquet(in).schema
    val stream = spark.readStream.schema(schema).parquet(in)
      // writers vary (TIMESTAMP_NTZ from duckdb/pandas dumps); the
      // watermark needs instant semantics
      .withColumn("ts", col("ts").cast("timestamp"))
    val q = graft.streaming.CorpusIngest.curate(stream)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$out/_checkpoint")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .format("parquet")
      .option("path", s"$out/docs")
      .start()
    q.awaitTermination()
    val n = spark.read.parquet(s"$out/docs").count()
    println(s"ingested: store now holds $n curated docs -> $out/docs")
    spark.stop()
  }

  /** One-line corpus report: doc/token/vocab counts and length stats. */
  /** One-pass column profile (operators/Profile) of a parquet input →
    * parquet report + per-column stdout summary. Columns default to
    * every column of the input; `--approx` swaps exact distinct counts
    * for the HLL sketch (no Expand — the 100 TB default). The profile
    * is localCheckpointed so the single aggregation pass feeds both the
    * write and the report. */
  private def profileCmd(in: String, out: String, cols: Option[String]): Unit = {
    val spark = GraftSession.local()
    val df = spark.read.parquet(in)
    val names = cols.map(_.split(",").toSeq).getOrElse(df.columns.toSeq)
    val prof = graft.operators.Profile.profile(df, names, exact = !approx)
      .localCheckpoint()
    prof.coalesce(1).write.mode("overwrite").parquet(out)
    prof.orderBy(col("col_name")).collect().foreach { r =>
      println(s"${r.getString(0)}: rows=${r.getLong(1)} nulls=${r.getLong(2)} " +
        s"distinct=${r.getLong(3)}")
    }
    spark.stop()
  }

  private def corpusStats(in: String): Unit = {
    val spark = GraftSession.local()
    val docs = spark.read.parquet(in)
    val toks = docs.select(col("doc_id"), explode(split(col("text"), "\\s+")).as("w"))
    val row = toks.agg(
      countDistinct(col("doc_id")).as("n_docs"),
      count(lit(1)).as("n_tokens"),
      countDistinct(col("w")).as("vocab"),
      (sum(length(col("w"))).cast("double") / count(lit(1))).as("avg_token_len"))
      .head()
    println(s"docs=${row.getLong(0)} tokens=${row.getLong(1)} " +
      f"vocab=${row.getLong(2)} avg_token_len=${row.getDouble(3)}%.2f")
    spark.stop()
  }

  /** modware-dump dictyplasmid (lib/Modware/Dump/Command/dictyplasmid.pm). */
  private def dictyPlasmid(plasmidsPath: String, out: String): Unit = {
    val spark = GraftSession.local()
    val plasmids = graft.etl.StockImport.plasmids(spark, plasmidsPath)
    graft.export.StockExport.plasmidLines(plasmids)
      .coalesce(1).write.mode("overwrite").text(s"$out/plasmid")
    println(s"plasmid=${plasmids.count()} dumped to $out")
    spark.stop()
  }

  /** organism2chado (lib/Modware/Import/Command/organism2chado.pm):
    * organisms TSV merged novel-only into the store's organism table —
    * idempotent like the reference's single-txn populate. */
  private def organism2Chado(in: String, store: String): Unit = {
    val spark = GraftSession.local()
    val staging = graft.etl.StockImport.organisms(spark, in)
    val path = s"$store/organism"
    val live =
      if (new java.io.File(path).exists()) spark.read.parquet(path)
      else staging.limit(0)
    val (merged, inserted) = graft.etl.StockImport.mergeOrganisms(staging, live)
    merged.localCheckpoint().write.mode("overwrite").parquet(path)
    println(s"organism inserted=$inserted total=${spark.read.parquet(path).count()}")
    spark.stop()
  }

  /** modidingoa / modrefingoa (SURVEY.md F16): translate GOA GAF ids
    * (gp2protein resource) or GO_REF references (GO_REF metadata) to MOD
    * identifiers; untranslatable rows are dropped with counts, like the
    * reference's converted/not_converted tally (modidingoa.pm:29-59). */
  private def modInGoa(in: String, resource: String, out: String,
      refs: Boolean): Unit = {
    val spark = GraftSession.local()
    import spark.implicits._
    val gaf = graft.sources.Gaf.read(spark, in)
    val (kept, dropped) =
      if (refs) graft.transform.IdConvert.convertRefs(
        gaf, graft.transform.IdConvert.gorefMapping(spark, resource))
      else graft.transform.IdConvert.convertIds(
        gaf, graft.transform.IdConvert.gp2protein(spark, resource))
    graft.sources.Gaf.format(kept.as[graft.chado.GafRecord])
      .coalesce(1).write.mode("overwrite").text(out)
    println(s"total:${gaf.count()} converted:${kept.count()} " +
      s"not_converted:${dropped.count()}")
    spark.stop()
  }

  /** modware-filter gff3alignment (SURVEY.md P7,
    * lib/Modware/Filter/Command/gff3alignment.pm:39-53): drop alignment
    * groups whose consecutive match_parts are farther apart than
    * `dist`; survivors re-emit as GFF3 (match before its parts). */
  private def gff3Alignment(in: String, out: String, dist: Int,
      matchType: String): Unit = {
    val spark = GraftSession.local()
    val kept = graft.transform.AlignmentFilter.matchPartFilter(
      gffFeatureFrame(spark, in), dist, matchType)
    if (singleFile)
      Gff3Export.toGff3Lines(kept).coalesce(1).write.mode("overwrite").text(out)
    else
      Gff3Export.writePartitionedText(
        Gff3Export.linesWithKeys(kept), "srcfeature", out,
        col("type_rank"), col("fmin"), col("uniquename"))
    println(s"filtered alignment written to $out " +
      s"(${kept.filter(col("ftype") === matchType).count()} match groups kept)")
    spark.stop()
  }

  /** oboclosure2chado (lib/Modware/Load/Command/oboclosure2chado.pm +
    * share/postgresql_transitive.lib:50-78): load an owltools closure
    * TSV and merge it into the store's `cvtermpath` — rows no longer in
    * the fresh closure are pruned (J7/U2), novel rows inserted (U1),
    * unchanged rows survive. Re-running with the same file is a no-op.
    */
  private def oboClosure2Chado(in: String, store: String): Unit = {
    val spark = GraftSession.local()
    // distinct rows: cvtermpath is unique per (subject, ancestor,
    // distance) and the prune/insert diff runs set semantics
    val fresh = graft.sources.ClosureTsv.read(spark, in).toDF().dropDuplicates()
    val path = s"$store/cvtermpath"
    if (new java.io.File(path).exists()) {
      val live = spark.read.parquet(path)
      val pruned = graft.operators.Closure.pruneSet(live, fresh)
      val inserted = fresh.join(live,
        fresh.columns.toIndexedSeq, "left_anti")
      val kept = live.join(pruned, live.columns.toIndexedSeq, "left_anti")
      val merged = kept.unionByName(inserted).localCheckpoint()
      println(s"pruned ${pruned.count()} inserted ${inserted.count()}")
      merged.write.mode("overwrite").parquet(path)
    } else {
      fresh.write.mode("overwrite").parquet(path)
      println(s"pruned 0 inserted ${spark.read.parquet(path).count()}")
    }
    println(s"cvtermpath store at $path")
    spark.stop()
  }

  /** dictygaf2chado analog: parse a GAF 2.0 file into the Chado-shaped
    * annotation store tables (SURVEY.md §3.4; GAF.pm:86-163). */
  private def gaf2Chado(in: String, store: String): Unit = {
    val spark = GraftSession.local()
    printCounts(graft.etl.GafLoad.loadInto(graft.sources.Gaf.read(spark, in), store), 18)
    println(s"annotation store written to $store")
    spark.stop()
  }

  /** chado2gaf / dictygaf analog: the flagship GAF 2.0 product export
    * (lib/Modware/Export/GAF.pm:155-386) from the annotation store —
    * P2+P3+P6+F17+F18+A6+A7 composed in one declarative plan. */
  private def chado2Gaf(store: String, out: String, skipFile: Option[String]): Unit = {
    val spark = GraftSession.local()
    def r(t: String) = ParquetUpsert.readKnown(spark, s"$store/$t")
    val skip = skipFile.map { f =>
      spark.read.textFile(f).toDF("accession").filter(col("accession") =!= "")
    }
    val rows = graft.export.GafExport.rows(
      assoc = r("feature_cvterm"), terms = r("cvterm_go"), genes = r("gene"),
      evidenceSynonyms = r("evidence_synonym"), geneSynonyms = r("gene_synonym"),
      descriptions = r("gene_description"), skipIds = skip)
      // written and counted from one materialization: the count would
      // otherwise re-run the whole export join plan
      .localCheckpoint()
    graft.export.GafExport.writeDocument(rows, "dictyBase",
      "http://dictybase.org", java.time.LocalDate.now(), out, singleFile)
    println(s"gaf written to $out (${rows.count()} annotation rows)")
    spark.stop()
  }

  /** chado2fasta (lib/Modware/Export/Command/chado2fasta.pm): `mode` is
    * the reference's --feature_type dispatch —
    *  - `reference`: dump the reference residues (the FASTA tail);
    *  - `cds`: spliced transcript sequences — exons cut from the
    *    reference, assembled in fmin order, revcomp'd on minus strand;
    *  - any other type (`gene`, `mRNA`, ...): that type's span inferred
    *    from the reference residues (SUBSTR + revcomp).
    */
  private def chado2Fasta(in: String, out: String, mode: String): Unit = {
    val spark = GraftSession.local()
    val fasta = Gff3.embeddedFasta(spark, in).toDF()
    val refs = fasta.select(col("seqId").as("srcfeature"), col("residues"))
    val result = mode match {
      case "reference" =>
        fasta.select(col("seqId").as("uniquename"), col("residues"))
      case "cds" =>
        val rec = gffFeatureFrame(spark, in).localCheckpoint()
        val locCols = Seq(col("uniquename"), col("srcfeature"),
          col("fmin"), col("fmax"), col("strand"))
        graft.export.FastaExport.spliced(
          rec.filter(col("ftype").rlike("RNA$")).select(locCols: _*),
          rec.filter(col("ftype") === "exon").select(col("uniquename"), col("parent")),
          rec.filter(col("ftype") === "exon").select(locCols: _*),
          refs)
      case ftype =>
        graft.export.FastaExport.inferred(
          gffFeatureFrame(spark, in).filter(col("ftype") === ftype)
            .select(col("uniquename"), col("srcfeature"),
              col("fmin"), col("fmax"), col("strand")),
          refs)
    }
    Fasta.write(result, "uniquename", "residues", out, singleFile = singleFile)
    println(s"fasta written to $out (${result.count()} records)")
    spark.stop()
  }

  /** dictystrain2chado / dictyplasmid2chado
    * (lib/Modware/Import/Command/dictystrain2chado.pm,
    * dictyplasmid2chado.pm): the stock-center data_dir's
    * `strain_*.tsv` / `plasmid_*.tsv` files merge into the parquet
    * stock store with per-table insert counts; a re-import inserts 0
    * (the reference's existing-stock skip, StrainImporter.pm:59-63,
    * done as anti-joins). */
  private def stock2Chado(dataDir: String, store: String,
                          strain: Boolean): Unit = {
    val spark = GraftSession.local()
    val staging =
      if (strain) graft.etl.StockImport.strainStaging(spark, dataDir)
      else graft.etl.StockImport.plasmidStaging(spark, dataDir)
    if (dryRun) {
      println(f"stock                  ${staging.stock.count()}%6d staged")
      println("dry run: no store write")
    } else {
      val counts = graft.etl.StockImport.mergeIntoStore(spark, staging, store)
      counts.toSeq.sortBy(_._1).foreach { case (t, n) => println(f"$t%-22s $n%6d") }
      println(s"store written to $store")
    }
    spark.stop()
  }

  /** bpetrain: learn a BPE merge table from a parquet corpus (needs a
    * `text` column) and persist it as (rank, a, b) — the tokenizer-
    * training half of the corpus pipeline. The corpus reduces to a
    * word-frequency dictionary once; each merge round is dictionary-
    * local and ships one row to the driver. */
  private def bpeTrain(in: String, out: String, numMerges: Int): Unit = {
    val spark = GraftSession.local()
    val merges = graft.operators.Bpe.learn(spark.read.parquet(in), "text", numMerges)
    import spark.implicits._
    merges.zipWithIndex.map { case ((a, b), i) => (i, a, b) }
      .toDF("rank", "a", "b").repartition(1)
      .write.mode("overwrite").parquet(out)
    println(s"learned ${merges.size} merge rules -> $out")
    spark.stop()
  }

  /** bpetokenize: segment a corpus with a saved merge table — merges
    * replay on the distinct-word dictionary, documents rejoin by word
    * (map-side); writes (doc_id, pos, word, tokens). */
  private def bpeTokenize(in: String, mergesDir: String, out: String): Unit = {
    val spark = GraftSession.local()
    val merges = spark.read.parquet(mergesDir).orderBy(col("rank"))
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    graft.operators.Bpe.tokenize(spark.read.parquet(in), "doc_id", "text", merges)
      .write.mode("overwrite").parquet(out)
    println(s"tokenized with ${merges.size} merge rules -> $out")
    spark.stop()
  }

  /** annbuild: train the IVF coarse quantizer once over the corpus and
    * persist it (Similarity.trainIvf + saveIndex) — the build half of
    * the index lifecycle. One aggregation pass over the embeddings;
    * only the dimension-sized centroid table reaches the driver. */
  /** warcimport: web archives -> a documents-shaped parquet corpus.
    * One archive file per task (sources/Warc.records via binaryFile),
    * 200-status text responses kept, bodies decoded UTF-8 — the
    * Common Crawl ingest step in front of the curation pipeline
    * (corpusdedup / decontaminate / corpusstats compose downstream). */
  private def warcImport(in: String, out: String): Unit = {
    val spark = GraftSession.local()
    import spark.implicits._
    val docs = graft.sources.Warc.records(spark, in)
      .filter(r => r.warcType == "response" && r.httpStatus.contains(200) &&
        r.httpContentType.forall(_.startsWith("text/")))
      .map(r => (r.targetUri, r.date, new String(r.body, "UTF-8")))
      .toDF("url", "fetched_at", "text")
      .withColumn("doc_id", xxhash64(col("url"), col("fetched_at")))
      .withColumn("n_chars", length(col("text")))
    val obs = org.apache.spark.sql.Observation()
    docs.observe(obs, count(lit(1)).as("rows"))
      .write.mode("overwrite").parquet(out)
    println(s"imported ${obs.get("rows")} documents -> $out")
    spark.stop()
  }

  /** zonewrite / zoneappend / zonequery: the zone-map store lifecycle
    * (sinks/SkippingStore) on the CLI — lay a table out for data
    * skipping once, extend it incrementally, then serve range queries
    * that open only the files whose min/max intersect the predicate
    * (the q128 semantics; build-once/serve-many like annbuild/annquery). */
  private def zoneWrite(in: String, dir: String, sortCol: String,
                        nFiles: Int, append: Boolean): Unit = {
    val spark = GraftSession.local()
    val df = spark.read.parquet(in)
    if (append) graft.sinks.SkippingStore.append(df, sortCol, dir, nFiles)
    else graft.sinks.SkippingStore.write(df, sortCol, dir, nFiles)
    val zm = graft.sinks.SkippingStore.zoneMap(spark, dir).count()
    println(s"${if (append) "appended to" else "wrote"} $dir " +
      s"(sorted by $sortCol, zone map covers $zm files)")
    spark.stop()
  }

  private def zoneQuery(dir: String, sortCol: String, lo: String, hi: String,
                        out: String): Unit = {
    val spark = GraftSession.local()
    def exists(p: String): Boolean = {
      val hp = new org.apache.hadoop.fs.Path(p)
      hp.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(hp)
    }
    val (kept, total, pruned) =
      if (!exists(s"$dir/_zonemap") && exists(s"$dir/_zonemap_multi")) {
        // multi-zone / z-order store: route by the column's stat slots
        val zm = spark.read.parquet(s"$dir/_zonemap_multi")
        val isString = zm.filter(col("col") === sortCol &&
          col("zmin_str").isNotNull).limit(1).count() > 0
        if (isString)
          graft.sinks.SkippingStore.readPrunedOnString(spark, dir, sortCol, lo, hi)
        else {
          // numeric/datetime stats widen to double (datetimes as epoch
          // micros — accept ISO date or timestamp bounds)
          def num(s: String): Double =
            try s.toDouble catch {
              case _: NumberFormatException =>
                java.sql.Timestamp
                  .valueOf(if (s.length == 10) s + " 00:00:00" else s)
                  .getTime * 1000.0
            }
          graft.sinks.SkippingStore.readPrunedOn(spark, dir, sortCol,
            num(lo), num(hi))
        }
      } else {
        // cast the CLI bounds to the store column's own type — comparing
        // against bare string literals would coerce the COLUMN to string
        // and prune lexicographically (wrong for ints and timestamps).
        // zmin IS min(sortCol), so the manifest-sized zone map carries the
        // type; never open the data files just to learn it
        val t = graft.sinks.SkippingStore.zoneMap(spark, dir).schema("zmin").dataType
        graft.sinks.SkippingStore
          .readPruned(spark, dir, sortCol, lit(lo).cast(t), lit(hi).cast(t))
      }
    pruned.write.mode("overwrite").parquet(out)
    println(s"zone query [$lo, $hi] on $sortCol: opened $kept of $total files -> $out")
    spark.stop()
  }

  /** zorderwrite / zorderappend: the two-column Z-order layout
    * (SkippingStore.writeZOrder) on the CLI — zonequery-style pruning
    * then works on EITHER column via the shared `_zonemap_multi`
    * sidecar (q180 semantics); appends reuse the persisted curve
    * geometry and index only the new files. */
  private def zorderWrite(in: String, dir: String, colA: String,
                          colB: String, nFiles: Int): Unit = {
    val spark = GraftSession.local()
    graft.sinks.SkippingStore.writeZOrder(spark.read.parquet(in), colA, colB,
      dir, nFiles)
    println(s"wrote $dir z-ordered on ($colA, $colB), $nFiles files")
    spark.stop()
  }

  private def zorderAppend(in: String, dir: String, nFiles: Int): Unit = {
    val spark = GraftSession.local()
    graft.sinks.SkippingStore.appendZOrder(spark.read.parquet(in), dir, nFiles)
    println(s"appended to z-order store $dir ($nFiles files)")
    spark.stop()
  }

  /** vcommit / vread / vdiff / vvacuum: the snapshot-versioned store
    * lifecycle (sinks/VersionedStore) on the CLI — atomic manifest
    * commits, pinned time-travel reads, row-level CDC between
    * versions, and retention vacuum (q181/q184 semantics). */
  private def vCommit(in: String, dir: String, mode: String,
                      nFiles: Int): Unit = {
    require(mode == "append" || mode == "overwrite",
      s"mode must be append|overwrite, got $mode")
    val spark = GraftSession.local()
    val v = graft.sinks.VersionedStore.commit(spark.read.parquet(in), dir,
      nFiles, overwrite = mode == "overwrite")
    println(s"committed version $v to $dir ($mode)")
    spark.stop()
  }

  private def vRead(dir: String, out: String, version: Long): Unit = {
    val spark = GraftSession.local()
    val df = graft.sinks.VersionedStore.read(spark, dir, version)
    df.write.mode("overwrite").parquet(out)
    val shown = if (version < 0)
      graft.sinks.VersionedStore.versions(spark, dir).last else version
    println(s"read version $shown of $dir -> $out")
    spark.stop()
  }

  private def vDiff(dir: String, from: Long, to: Long, out: String): Unit = {
    val spark = GraftSession.local()
    val d = graft.sinks.VersionedStore.rowDiff(spark, dir, from, to)
    d.write.mode("overwrite").parquet(out)
    val byChange = spark.read.parquet(out).groupBy(col("change")).count()
      .collect().map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted
    println(s"diff v$from -> v$to of $dir: ${byChange.mkString(" ")} -> $out")
    spark.stop()
  }

  private def vVacuum(dir: String, keepLast: Int): Unit = {
    val spark = GraftSession.local()
    val (vs, fs) = graft.sinks.VersionedStore.vacuum(spark, dir, keepLast)
    println(s"vacuumed $dir: dropped $vs versions, deleted $fs data files")
    spark.stop()
  }

  /** vcompact: manifest-route compaction — rewrite the latest snapshot
    * into fewer files and commit as a new overwrite version (no
    * directory rename; the object-store-safe path). */
  private def vCompact(dir: String, nFiles: Int): Unit = {
    val spark = GraftSession.local()
    val (v, was, now) =
      graft.sinks.VersionedStore.compactVersioned(spark, dir, nFiles)
    println(s"compacted $dir: $was -> $now files at version $v " +
      "(older versions still time-travel; vvacuum reclaims)")
    spark.stop()
  }

  /** pagerank: iterative authority ranking over an edge-list parquet
    * (src, dst[, w]) — the crawl-frontier scorer (operators/Graph).
    * Missing weights default to 1. */
  private def pageRank(edges: String, out: String, iters: Int,
                       damping: Double): Unit = {
    val spark = GraftSession.local()
    val raw = spark.read.parquet(edges)
    val e =
      if (raw.columns.contains("w")) raw.select(col("src"), col("dst"), col("w"))
      else raw.select(col("src"), col("dst"), lit(1L).as("w"))
    graft.operators.Graph.pageRank(e, iters, damping)
      .write.mode("overwrite").parquet(out)
    val n = spark.read.parquet(out).count()
    println(s"pagerank: $n nodes ranked ($iters iterations, damping $damping) -> $out")
    spark.stop()
  }

  /** bloomindex / bloomquery: per-file Bloom skipping for equality
    * lookups on scattered keys (hashes, URLs) where min/max zones can't
    * prune — index any parquet store once, then serve point lookups
    * that open only the files whose filter holds the probe bits. */
  /** Compact an indexed store to ≈targetBytes files, rebuilding both
    * sidecars against the new layout (SkippingStore.compactIndexed) —
    * the periodic maintenance pass after [[indexedIngestCmd]]/the
    * streaming ingest accrete batch-sized files. */
  private def compactStore(dir: String, sortCol: String,
                           targetBytes: Long): Unit = {
    val spark = GraftSession.local()
    val (before, after) =
      graft.sinks.SkippingStore.compactIndexed(spark, dir, sortCol, targetBytes)
    println(s"compacted $dir: $before -> $after files (sidecars rebuilt)")
    spark.stop()
  }

  /** Manually apply one batch to an indexed store (the batch arm of
    * [[graft.streaming.StreamingMerge.indexedIngest]]): appends
    * zone-sorted files and extends the multi-zone (and optional bloom)
    * sidecars, batch-sized. The batch id continues the store's
    * `_applied_batch` lineage so a later stream attach sees a
    * consistent gate. */
  private def indexedIngestCmd(batch: String, dir: String, sortCol: String,
                               statsCols: Seq[String],
                               bloomCol: Option[String]): Unit = {
    val spark = GraftSession.local()
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val nextId =
      if (!fs.exists(p)) 0L
      else spark.read.option("mergeSchema", "true").parquet(dir)
        .agg(max(col("_applied_batch"))).collect().headOption
        .flatMap(r => Option(r.get(0)).map(_.asInstanceOf[Long] + 1L))
        .getOrElse(0L)
    val applied = graft.streaming.StreamingMerge.applyIndexedBatch(
      spark.read.parquet(batch), nextId, dir, sortCol, statsCols,
      bloomCol, nFiles = 8)
    val files = spark.read.parquet(s"$dir/_zonemap_multi")
      .select(col("file")).distinct().count()
    println(s"batch=$nextId applied=$applied store=$dir files=$files" +
      bloomCol.map(c => s" bloom=$c").getOrElse(""))
    spark.stop()
  }

  private def bloomIndex(dir: String, keyCol: String, nbits: Int,
                         k: Int): Unit = {
    val spark = GraftSession.local()
    graft.sinks.SkippingStore.bloomIndex(spark, dir, keyCol, nbits, k)
    val n = graft.sinks.SkippingStore.bloomMap(spark, dir).count()
    println(s"bloom index on $keyCol written ($n files, $nbits bits, $k hashes)")
    spark.stop()
  }

  private def bloomQuery(dir: String, keyCol: String, value: String,
                         out: String): Unit = {
    val spark = GraftSession.local()
    val (kept, total, hit) = graft.sinks.SkippingStore
      .readBloomEq(spark, dir, keyCol, value)
    hit.write.mode("overwrite").parquet(out)
    println(s"bloom lookup $keyCol=$value: opened $kept of $total files -> $out")
    spark.stop()
  }

  private def bloomAppend(dir: String, keyCol: String): Unit = {
    val spark = GraftSession.local()
    graft.sinks.SkippingStore.bloomAppend(spark, dir, keyCol)
    val n = graft.sinks.SkippingStore.bloomMap(spark, dir).count()
    println(s"bloom index on $keyCol extended ($n files covered)")
    spark.stop()
  }

  /** CCNet head/middle/tail perplexity buckets over a document corpus
    * (`--approx` switches the quantile thresholds to the sketch path). */
  private def corpusBuckets(in: String): Unit = {
    val spark = GraftSession.local()
    graft.operators.Curation.lmBuckets(spark.read.parquet(in),
        "doc_id", "text", exact = !approx)
      .collect()
      .foreach(r => println(s"${r.getString(0)}\t${r.getLong(1)}\t${r.getDouble(2)}"))
    spark.stop()
  }

  /** k-NN label propagation: rows of `labeled` (doc_id/vec_id + label +
    * embedding) vote labels onto `unlabeled`; predictions written as
    * parquet. */
  private def knnLabel(labeled: String, unlabeled: String, out: String,
                       k: Int): Unit = {
    val spark = GraftSession.local()
    val pred = graft.operators.Similarity.knnClassify(
      spark.read.parquet(labeled), spark.read.parquet(unlabeled),
      "vec_id", "embedding", "label", k)
    pred.write.mode("overwrite").parquet(out)
    println(s"labeled ${spark.read.parquet(out).count()} rows (k=$k) -> $out")
    spark.stop()
  }

  private def annBuild(emb: String, indexDir: String, cells: Int,
                       iters: Int = 1): Unit = {
    val spark = GraftSession.local()
    val corpus = spark.read.parquet(emb)
    val index =
      if (iters <= 1)
        graft.operators.Similarity.trainIvf(corpus, "vec_id", "embedding", cells)
      else graft.operators.Similarity
        .trainIvfIterated(corpus, "vec_id", "embedding", cells, iters)
    graft.operators.Similarity.saveIndex(spark, index, indexDir)
    println(s"index written to $indexDir (${index.cids.size} cells, " +
      s"dim ${index.centroids.headOption.map(_.size).getOrElse(0)}, " +
      s"$iters Lloyd iteration budget)")
    spark.stop()
  }

  /** annquery: load a persisted index and probe it
    * (Similarity.loadIndex + ivfProbe) — the serve half. NO training in
    * this path: assignment is a map-only argmin over the loaded centroid
    * literals, and repeated queries reuse the same index artifact. */
  private def annQuery(indexDir: String, emb: String, id: Long, k: Int,
                       nprobe: Int): Unit = {
    val spark = GraftSession.local()
    val index = graft.operators.Similarity.loadIndex(spark, indexDir)
    val hits = graft.operators.Similarity
      .ivfProbe(spark.read.parquet(emb), "vec_id", "embedding", id, index,
        k, nprobe)
      .collect()
    hits.foreach(r => println(s"${r.get(0)}\t${r.get(1)}"))
    println(s"${hits.length} neighbors of $id (nprobe $nprobe of ${index.cids.size} cells)")
    spark.stop()
  }

  /** declareunique: verify + declare a unique key on a parquet store
    * (sinks/Constraints) — arms plans/JoinEliminationRule for joins
    * against it; any later append/compact self-invalidates the
    * declaration until it is re-run. */
  private def declareUnique(dir: String, keyCol: String): Unit = {
    val spark = GraftSession.local()
    graft.sinks.Constraints.declareUnique(spark, dir, keyCol)
    println(s"declared unique($keyCol) on $dir " +
      "(valid until the file set changes; re-run after maintenance)")
    spark.stop()
  }

  /** storestats: one metadata-only report over a store's sidecars —
    * files, rows, per-column zones/null counts, bloom geometry,
    * constraint validity. Never opens a data file (everything it
    * prints is what the optimizer rules read), so it is safe against
    * a 100 TB store. */
  private def storeStats(dir: String): Unit = {
    val spark = GraftSession.local()
    def exists(p: String): Boolean = {
      val hp = new org.apache.hadoop.fs.Path(p)
      hp.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(hp)
    }
    val nFiles = {
      val hp = new org.apache.hadoop.fs.Path(dir)
      val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(hp)) 0
      else fs.listStatus(hp).count(s => s.isFile &&
        s.getPath.getName.startsWith("part-") &&
        s.getPath.getName.endsWith(".parquet"))
    }
    println(s"$dir: $nFiles data files")
    if (exists(s"$dir/_zonemap_multi")) {
      val zm = spark.read.parquet(s"$dir/_zonemap_multi")
      val hasN = zm.columns.contains("nrows")
      val hasNu = zm.columns.contains("nnulls")
      graft.sinks.SkippingStore.metadataCount(spark, dir)
        .foreach(n => println(s"  rows (manifest): $n"))
      zm.select(col("col")).distinct().collect().map(_.getString(0)).sorted
        .foreach { c =>
          val mm = graft.sinks.SkippingStore.metadataMinMax(spark, dir, c)
          val nn = if (hasNu)
            graft.sinks.SkippingStore.metadataNonNullCount(spark, dir, c)
          else None
          val range = mm.map { s =>
            val num = for (a <- s.zmin; b <- s.zmax) yield s"[$a, $b]"
            val str = for (a <- s.zminStr; b <- s.zmaxStr) yield s"[$a, $b]"
            num.orElse(str).getOrElse("[all null]")
          }.getOrElse("?")
          val nulls = nn.map(v => s", non-null $v").getOrElse("")
          println(s"  zone $c: $range$nulls")
        }
      if (!hasN) println("  (legacy sidecar: no nrows/nnulls)")
    }
    if (exists(s"$dir/_bloommap")) {
      val bm = spark.read.parquet(s"$dir/_bloommap")
      val geom = bm.select(col("nbits"), col("k"),
        (if (bm.columns.contains("keycol")) col("keycol")
         else lit("?")).as("keycol")).distinct().collect()
      geom.foreach(g => println(
        s"  bloom ${g.get(2)}: ${g.getInt(0)} bits, k=${g.getInt(1)}"))
    }
    if (exists(s"$dir/_constraints")) {
      val sc = spark.read.parquet(s"$dir/_constraints")
      sc.select(col("col")).distinct().collect().map(_.getString(0)).sorted
        .foreach { c =>
          val ok = graft.sinks.Constraints.verifiedUnique(spark, dir, c)
          val nn = graft.sinks.Constraints.verifiedUniqueNoNulls(spark, dir, c)
          println(s"  unique($c): ${if (ok) "VALID" else "stale"}" +
            (if (ok && nn) ", null-free" else ""))
        }
    }
    if (exists(s"$dir/_constraints_fk")) {
      val fk = spark.read.parquet(s"$dir/_constraints_fk")
      fk.select(col("fkcol"), col("refdir"), col("refcol")).distinct()
        .collect().foreach { r =>
          val ok = graft.sinks.Constraints
            .verifiedForeignKey(spark, dir, r.getString(0)).isDefined
          println(s"  fk ${r.getString(0)} -> ${r.getString(1)}." +
            s"${r.getString(2)}: ${if (ok) "VALID" else "stale"}")
        }
    }
    spark.stop()
  }

  private def declareFk(factDir: String, fkCol: String, dimDir: String,
                        keyCol: String): Unit = {
    val spark = GraftSession.local()
    graft.sinks.Constraints.declareForeignKey(spark, factDir, fkCol,
      dimDir, keyCol)
    println(s"declared fk $factDir.$fkCol -> $dimDir.$keyCol " +
      "(valid until either store's file set changes)")
    spark.stop()
  }

  private def extendUnique(dir: String, keyCol: String): Unit = {
    val spark = GraftSession.local()
    graft.sinks.Constraints.extendUnique(spark, dir, keyCol)
    println(s"extended unique($keyCol) on $dir over the appended files " +
      "(batch-sized verification; stamp refreshed)")
    spark.stop()
  }

  /** annstorebuild / annstoreappend: the IVF POSTINGS-store lifecycle
    * (Similarity.ivfStoreBuild/Append) — materialize every vector's
    * frozen-index cell assignment partitioned by cell, then stream
    * later batches in WITHOUT retraining; annstorequery serves from
    * the store opening only the probed cells' partitions. */
  private def annStoreBuild(emb: String, indexDir: String, storeDir: String,
                            append: Boolean): Unit = {
    val spark = GraftSession.local()
    val index = graft.operators.Similarity.loadIndex(spark, indexDir)
    val batch = spark.read.parquet(emb)
    if (append)
      graft.operators.Similarity
        .ivfStoreAppend(batch, "vec_id", "embedding", index, storeDir)
    else
      graft.operators.Similarity
        .ivfStoreBuild(batch, "vec_id", "embedding", index, storeDir)
    val cells = spark.read.parquet(storeDir)
      .select(col("cell")).distinct().count()
    println(s"${if (append) "appended to" else "wrote"} postings store " +
      s"$storeDir ($cells of ${index.cids.size} cells populated)")
    spark.stop()
  }

  private def annStoreCompact(storeDir: String, maxRecords: Long): Unit = {
    val spark = GraftSession.local()
    val (was, now) =
      graft.operators.Similarity.compactIvfStore(spark, storeDir, maxRecords)
    println(s"compacted postings store $storeDir: $was -> $now files")
    spark.stop()
  }

  /** annstoreclustered: the rider-clustered postings layout — lists
    * split into rider-range files with a partition-relative zone
    * sidecar, so a filtered annstorequery skips files INSIDE probed
    * cells (the transparent rule composes both prunes). */
  private def annStoreClustered(emb: String, indexDir: String,
                                storeDir: String, rider: String,
                                filesPerCell: Int): Unit = {
    val spark = GraftSession.local()
    val index = graft.operators.Similarity.loadIndex(spark, indexDir)
    graft.operators.Similarity.ivfStoreBuildClustered(
      spark.read.parquet(emb), "vec_id", "embedding", index, storeDir,
      riderCols = Seq(rider), filesPerCell = filesPerCell)
    val files = graft.sinks.SkippingStore
      .listDataFileRelPaths(spark, storeDir).size
    println(s"wrote clustered postings store $storeDir " +
      s"($files files across ${index.cids.size} cells, rider '$rider' indexed)")
    spark.stop()
  }

  /** annstoreknn: batched store-served kNN join — one job retrieves
    * top-k for a whole query FRAME from the postings store (no forced
    * broadcast: bounded query sets broadcast by statistics, corpus
    * sweeps shuffle on cell). */
  private def annStoreKnn(indexDir: String, storeDir: String, queries: String,
                          out: String, k: Int, nprobe: Int): Unit = {
    val spark = GraftSession.local()
    val index = graft.operators.Similarity.loadIndex(spark, indexDir)
    val res = graft.operators.Similarity.knnJoinIvfStore(spark, storeDir,
      spark.read.parquet(queries), "vec_id", "embedding", k, index, nprobe)
    res.write.mode("overwrite").parquet(out)
    val n = spark.read.parquet(out).count()
    println(s"$n (query, neighbor) rows -> $out " +
      s"(k=$k, nprobe $nprobe of ${index.cids.size} cells)")
    spark.stop()
  }

  /** annsq8build / annsq8query: the IVF-SQ8 postings lifecycle —
    * int8 codes in the inverted lists (~4x smaller than the float
    * postings of annstorebuild), assignment and probing still on the
    * exact float vectors. */
  private def annSq8Build(emb: String, indexDir: String,
                          storeDir: String): Unit = {
    val spark = GraftSession.local()
    val index = graft.operators.Similarity.loadIndex(spark, indexDir)
    graft.operators.Similarity.ivfSq8StoreBuild(
      spark.read.parquet(emb), "vec_id", "embedding", index, storeDir)
    val cells = spark.read.parquet(storeDir)
      .select(col("cell")).distinct().count()
    println(s"wrote IVF-SQ8 postings store $storeDir " +
      s"($cells of ${index.cids.size} cells populated, codes only)")
    spark.stop()
  }

  private def annSq8Query(indexDir: String, storeDir: String, emb: String,
                          id: Long, k: Int, nprobe: Int): Unit = {
    val spark = GraftSession.local()
    val index = graft.operators.Similarity.loadIndex(spark, indexDir)
    val qv = spark.read.parquet(emb).filter(col("vec_id") === id)
      .select(col("embedding")).head().getSeq[Float](0)
    val hits = graft.operators.Similarity
      .ivfSq8StoreTopK(spark, storeDir, "vec_id", qv, index, k, nprobe,
        excludeId = Some(id))
      .collect()
    hits.foreach(r => println(s"${r.get(0)}\t${r.get(1)}"))
    println(s"${hits.length} SQ8 neighbors of $id from the postings store " +
      s"(nprobe $nprobe of ${index.cids.size} cells)")
    spark.stop()
  }

  /** textbuild / textappend / textquery: the BM25 postings-store
    * lifecycle ([[graft.operators.TextIndex]]) — tokenize once into
    * term-bucket partitions with w-zone + corpus-stats sidecars,
    * append batches into the frozen layout, serve top-k reading only
    * the query terms' buckets. Expects a `documents`-shaped parquet
    * (doc_id, text). */
  private def textBuild(docs: String, storeDir: String, nBuckets: Int,
                        filesPerBucket: Int): Unit = {
    val spark = GraftSession.local()
    graft.operators.TextIndex.build(spark.read.parquet(docs),
      "doc_id", "text", storeDir, nBuckets, filesPerBucket)
    val (n, sdl, nb) = graft.operators.TextIndex.readStats(spark, storeDir)
    println(s"wrote text postings store $storeDir " +
      s"($n docs, $sdl tokens, $nb buckets)")
    spark.stop()
  }

  private def textAppend(docs: String, storeDir: String,
                         filesPerBucket: Int): Unit = {
    val spark = GraftSession.local()
    graft.operators.TextIndex.append(spark.read.parquet(docs),
      "doc_id", "text", storeDir, filesPerBucket)
    val (n, sdl, nb) = graft.operators.TextIndex.readStats(spark, storeDir)
    println(s"appended to text postings store $storeDir " +
      s"(now $n docs, $sdl tokens, $nb buckets)")
    spark.stop()
  }

  private def textCompact(storeDir: String, filesPerBucket: Int): Unit = {
    val spark = GraftSession.local()
    val (was, now) =
      graft.operators.TextIndex.compact(spark, storeDir, filesPerBucket)
    println(s"compacted text postings store $storeDir: $was -> $now files")
    spark.stop()
  }

  private def textCompactSelective(storeDir: String, maxFilesPerBucket: Int,
                                   filesPerBucket: Int): Unit = {
    val spark = GraftSession.local()
    val (rewritten, was, now) = graft.operators.TextIndex
      .compactSelective(spark, storeDir, maxFilesPerBucket, filesPerBucket)
    println(s"selectively compacted $storeDir: $was -> $now files " +
      s"(${rewritten.size} decayed buckets rewritten: " +
      s"${rewritten.mkString(",")})")
    spark.stop()
  }

  /** textdelete / anndelete: tombstoned removal from a postings store
    * — one atomic `_tombstones` sidecar append; serves mask the ids
    * immediately, the next (full) compaction purges physically and
    * clears the sidecar ([[graft.operators.TextIndex.delete]] /
    * [[graft.operators.Similarity.ivfStoreDelete]]). Re-running the
    * same delete prints 0 — the idempotence contract every loader
    * verb shares. */
  private def textDelete(storeDir: String, ids: Seq[Long]): Unit = {
    val spark = GraftSession.local()
    import spark.implicits._
    val n = graft.operators.TextIndex.delete(spark, storeDir,
      ids.toDF("doc_id"), "doc_id")
    val (nDocs, _, _) = graft.operators.TextIndex.readStats(spark, storeDir)
    println(s"tombstoned $n docs in $storeDir (now $nDocs live docs; " +
      "textcompact purges)")
    spark.stop()
  }

  private def annDelete(storeDir: String, ids: Seq[Long]): Unit = {
    val spark = GraftSession.local()
    import spark.implicits._
    val n = graft.operators.Similarity.ivfStoreDelete(spark, storeDir,
      ids.toDF("vec_id"), "vec_id")
    println(s"tombstoned $n vectors in $storeDir (annstorecompact purges)")
    spark.stop()
  }

  /** textbuildpos / textappendpos / textphrase: the POSITIONAL
    * postings-store lifecycle — same layout with per-posting position
    * lists, serving exact phrase adjacency from the terms' buckets
    * ([[graft.operators.TextIndex.phraseSearch]]). */
  private def textBuildPos(docs: String, storeDir: String, nBuckets: Int,
                           filesPerBucket: Int): Unit = {
    val spark = GraftSession.local()
    graft.operators.TextIndex.buildPositional(spark.read.parquet(docs),
      "doc_id", "text", storeDir, nBuckets, filesPerBucket)
    val (n, sdl, nb) = graft.operators.TextIndex.readStats(spark, storeDir)
    println(s"wrote positional postings store $storeDir " +
      s"($n docs, $sdl tokens, $nb buckets)")
    spark.stop()
  }

  private def textAppendPos(docs: String, storeDir: String,
                            filesPerBucket: Int): Unit = {
    val spark = GraftSession.local()
    graft.operators.TextIndex.appendPositional(spark.read.parquet(docs),
      "doc_id", "text", storeDir, filesPerBucket)
    val (n, sdl, nb) = graft.operators.TextIndex.readStats(spark, storeDir)
    println(s"appended to positional postings store $storeDir " +
      s"(now $n docs, $sdl tokens, $nb buckets)")
    spark.stop()
  }

  private def textPhrase(storeDir: String, phrase: Seq[String],
                         out: String): Unit = {
    val spark = GraftSession.local()
    val hits = graft.operators.TextIndex.phraseSearch(spark, storeDir, phrase)
      .orderBy(org.apache.spark.sql.functions.col("doc_id"))
    hits.write.mode("overwrite").parquet(out)
    println(s"phrase '${phrase.mkString(" ")}': " +
      s"${spark.read.parquet(out).count()} matching docs -> $out")
    spark.stop()
  }

  /** textnear: store-served proximity (SpanNear) —
    * [[graft.operators.TextIndex.nearSearch]]. */
  private def textNear(storeDir: String, a: String, b: String, slop: Int,
                       ordered: Boolean, out: String): Unit = {
    val spark = GraftSession.local()
    val hits = graft.operators.TextIndex
      .nearSearch(spark, storeDir, a, b, slop, ordered)
      .orderBy(org.apache.spark.sql.functions.col("doc_id"))
    hits.write.mode("overwrite").parquet(out)
    println(s"NEAR($a, $b, slop=$slop${if (ordered) ", ordered" else ""}): " +
      s"${spark.read.parquet(out).count()} matching docs -> $out")
    spark.stop()
  }

  /** textphrasebatch: one job for a whole phrase frame —
    * [[graft.operators.TextIndex.phraseSearchBatch]]; query ids are
    * the 0-based positions of the semicolon-separated phrases. */
  private def textPhraseBatch(storeDir: String, phrases: Seq[Seq[String]],
                              out: String): Unit = {
    val spark = GraftSession.local()
    import spark.implicits._
    val queries = phrases.zipWithIndex
      .map { case (p, i) => (i.toLong, p) }.toDF("query_id", "phrase")
    val hits = graft.operators.TextIndex.phraseSearchBatch(spark, storeDir,
      queries, "query_id", "phrase")
    hits.write.mode("overwrite").parquet(out)
    println(s"${phrases.size} phrases batched: " +
      s"${spark.read.parquet(out).count()} (query, doc) matches -> $out")
    spark.stop()
  }

  /** textnearbatch: one job for a whole NEAR query frame —
    * [[graft.operators.TextIndex.nearSearchBatch]]; query ids are
    * the 0-based positions of the semicolon-separated a,b,slop
    * triples. */
  private def textNearBatch(storeDir: String,
                            specs: Seq[(String, String, Int)],
                            ordered: Boolean, out: String): Unit = {
    val spark = GraftSession.local()
    import spark.implicits._
    val queries = specs.zipWithIndex
      .map { case ((a, b, slop), i) => (i.toLong, a, b, slop) }
      .toDF("query_id", "a", "b", "slop")
    val hits = graft.operators.TextIndex.nearSearchBatch(spark, storeDir,
      queries, "query_id", "a", "b", "slop", ordered)
    hits.write.mode("overwrite").parquet(out)
    println(s"${specs.size} NEAR queries batched" +
      s"${if (ordered) " (ordered)" else ""}: " +
      s"${spark.read.parquet(out).count()} (query, doc) matches -> $out")
    spark.stop()
  }

  /** textkwicbatch: one job for a whole KWIC query frame —
    * [[graft.operators.TextIndex.kwicBatch]]; query ids are the
    * 0-based positions of the semicolon-separated term,width pairs. */
  private def textKwicBatch(storeDir: String, docs: String,
                            specs: Seq[(String, Int)],
                            out: String): Unit = {
    val spark = GraftSession.local()
    import spark.implicits._
    val queries = specs.zipWithIndex
      .map { case ((term, width), i) => (i.toLong, term, width) }
      .toDF("query_id", "term", "width")
    val wins = graft.operators.TextIndex.kwicBatch(spark, storeDir,
      spark.read.parquet(docs), "doc_id", "text",
      queries, "query_id", "term", "width")
    wins.write.mode("overwrite").parquet(out)
    println(s"${specs.size} KWIC queries batched: " +
      s"${spark.read.parquet(out).count()} windows -> $out")
    spark.stop()
  }

  /** textnotnear: SpanNot exclusion search —
    * [[graft.operators.TextIndex.notNearSearch]]. */
  private def textNotNear(storeDir: String, a: String, b: String,
                          slop: Int, out: String): Unit = {
    val spark = GraftSession.local()
    val hits = graft.operators.TextIndex
      .notNearSearch(spark, storeDir, a, b, slop)
    hits.write.mode("overwrite").parquet(out)
    println(s"NOT-NEAR($a, $b, slop=$slop): " +
      s"${spark.read.parquet(out).count()} matching docs -> $out")
    spark.stop()
  }

  /** textnotnearbatch: one job for a whole SpanNot query frame —
    * [[graft.operators.TextIndex.notNearSearchBatch]]; query ids are
    * the 0-based positions of the semicolon-separated a,b,slop
    * triples. */
  private def textNotNearBatch(storeDir: String,
                               specs: Seq[(String, String, Int)],
                               out: String): Unit = {
    val spark = GraftSession.local()
    import spark.implicits._
    val queries = specs.zipWithIndex
      .map { case ((a, b, slop), i) => (i.toLong, a, b, slop) }
      .toDF("query_id", "a", "b", "slop")
    val hits = graft.operators.TextIndex.notNearSearchBatch(spark,
      storeDir, queries, "query_id", "a", "b", "slop")
    hits.write.mode("overwrite").parquet(out)
    println(s"${specs.size} SpanNot queries batched: " +
      s"${spark.read.parquet(out).count()} (query, doc) matches -> $out")
    spark.stop()
  }

  /** textlmrankbatch: one job for a whole LM-ranking query frame —
    * [[graft.operators.TextIndex.lmTopKBatch]]; query ids are the
    * 0-based positions of the semicolon-separated term lists. */
  private def textLmRankBatch(storeDir: String, specs: Seq[Seq[String]],
                              k: Int, mu: Double, out: String): Unit = {
    val spark = GraftSession.local()
    import spark.implicits._
    val queries = specs.zipWithIndex
      .map { case (terms, i) => (i.toLong, terms) }
      .toDF("query_id", "terms")
    val hits = graft.operators.TextIndex.lmTopKBatch(spark, storeDir,
      queries, "query_id", "terms", k, mu)
    hits.write.mode("overwrite").parquet(out)
    println(s"${specs.size} LM queries batched (mu=$mu): " +
      s"${spark.read.parquet(out).count()} ranked rows -> $out")
    spark.stop()
  }

  /** textlmrank: Dirichlet query-likelihood ranking —
    * [[graft.operators.TextIndex.lmTopK]]. */
  private def textLmRank(storeDir: String, terms: Seq[String], k: Int,
                         mu: Double, out: String): Unit = {
    val spark = GraftSession.local()
    val hits = graft.operators.TextIndex.lmTopK(spark, storeDir, terms,
      k, mu)
    hits.write.mode("overwrite").parquet(out)
    println(s"LM[${terms.mkString(", ")}] (mu=$mu): " +
      s"${spark.read.parquet(out).count()} docs -> $out")
    spark.stop()
  }

  /** textcontains: conjunctive (AND) containment —
    * [[graft.operators.TextIndex.containingAll]]. */
  private def textContains(storeDir: String, terms: Seq[String],
                           out: String): Unit = {
    val spark = GraftSession.local()
    val hits = graft.operators.TextIndex.containingAll(spark, storeDir, terms)
    hits.write.mode("overwrite").parquet(out)
    println(s"AND[${terms.mkString(", ")}]: " +
      s"${spark.read.parquet(out).count()} matching docs -> $out")
    spark.stop()
  }

  /** textcontainsbatch: one job for a whole AND-containment frame —
    * [[graft.operators.TextIndex.containingAllBatch]]; query ids are
    * the 0-based positions of the semicolon-separated term lists. */
  private def textContainsBatch(storeDir: String, specs: Seq[Seq[String]],
                                out: String): Unit = {
    val spark = GraftSession.local()
    import spark.implicits._
    val queries = specs.zipWithIndex
      .map { case (terms, i) => (i.toLong, terms) }.toDF("query_id", "terms")
    val hits = graft.operators.TextIndex.containingAllBatch(spark, storeDir,
      queries, "query_id", "terms")
    hits.write.mode("overwrite").parquet(out)
    println(s"${specs.size} AND queries batched: " +
      s"${spark.read.parquet(out).count()} (query, doc) matches -> $out")
    spark.stop()
  }

  /** textkwic: context windows around a term's matches —
    * [[graft.operators.TextIndex.contextWindows]]. */
  private def textKwic(storeDir: String, docs: String, term: String,
                       width: Int, out: String): Unit = {
    val spark = GraftSession.local()
    val wins = graft.operators.TextIndex.contextWindows(spark, storeDir,
      spark.read.parquet(docs), "doc_id", "text", term, width)
    wins.write.mode("overwrite").parquet(out)
    println(s"KWIC($term, +/-$width): " +
      s"${spark.read.parquet(out).count()} windows -> $out")
    spark.stop()
  }

  /** textexpand: BM25 with pseudo-relevance-feedback expansion —
    * [[graft.operators.TextIndex.topKExpanded]]. */
  /** textexpandbatch: one four-job PRF serve for a whole query frame —
    * [[graft.operators.TextIndex.topKExpandedBatch]]; query ids are
    * the 0-based positions of the semicolon-separated seed lists. */
  private def textExpandBatch(storeDir: String, docs: String,
                              specs: Seq[Seq[String]], k: Int,
                              fbDocs: Int, fbTerms: Int,
                              out: String): Unit = {
    val spark = GraftSession.local()
    import spark.implicits._
    val queries = specs.zipWithIndex
      .map { case (terms, i) => (i.toLong, terms) }.toDF("query_id", "terms")
    val hits = graft.operators.TextIndex.topKExpandedBatch(spark, storeDir,
      spark.read.parquet(docs), "doc_id", "text",
      queries, "query_id", "terms", k, fbDocs, fbTerms)
    hits.write.mode("overwrite").parquet(out)
    println(s"${specs.size} PRF queries batched (+$fbTerms terms from " +
      s"top $fbDocs docs each): " +
      s"${spark.read.parquet(out).count()} (query, doc) rows -> $out")
    spark.stop()
  }

  private def textExpand(storeDir: String, docs: String,
                         terms: Seq[String], k: Int, fbDocs: Int,
                         fbTerms: Int, out: String): Unit = {
    val spark = GraftSession.local()
    val hits = graft.operators.TextIndex.topKExpanded(spark, storeDir,
      spark.read.parquet(docs), "doc_id", "text", terms, k, fbDocs, fbTerms)
    hits.write.mode("overwrite").parquet(out)
    println(s"PRF[${terms.mkString(", ")}] (+$fbTerms terms from top " +
      s"$fbDocs): ${spark.read.parquet(out).count()} hits -> $out")
    spark.stop()
  }

  private def textVocab(storeDir: String): Unit = {
    val spark = GraftSession.local()
    graft.operators.TextIndex.buildVocab(spark, storeDir)
    val n = graft.operators.TextIndex.vocabulary(spark, storeDir).count()
    println(s"_vocab sidecar built for $storeDir ($n terms); " +
      "appends maintain it from now on")
    spark.stop()
  }

  private def textBlockmax(storeDir: String): Unit = {
    val spark = GraftSession.local()
    graft.operators.TextIndex.buildBlockStats(spark, storeDir)
    println(s"_blockmax sidecar built for $storeDir; appends maintain " +
      "it from now on (textqueryp serves block-max pruned)")
    spark.stop()
  }

  private def textQuerySharded(shards: Seq[String], terms: Seq[String],
                               k: Int, out: String): Unit = {
    val spark = GraftSession.local()
    graft.operators.TextIndex.topKSharded(spark, shards, terms, k)
      .write.mode("overwrite").parquet(out)
    println(s"BM25[${terms.mkString(", ")}] scatter-gather over " +
      s"${shards.size} shards (global-df contract): " +
      s"${spark.read.parquet(out).count()} hits -> $out")
    spark.stop()
  }

  private def textQueryPruned(storeDir: String, terms: Seq[String],
                              k: Int, out: String): Unit = {
    val spark = GraftSession.local()
    graft.operators.TextIndex.topKPruned(spark, storeDir, terms, k)
      .write.mode("overwrite").parquet(out)
    println(s"BM25[${terms.mkString(", ")}] block-max pruned " +
      s"(${pruneNote()}): ${spark.read.parquet(out).count()} hits -> $out")
    spark.stop()
  }

  private def pruneNote(): String =
    graft.operators.TextIndex.lastPruneStats
      .map(s => if (s.delegated) "delegated (pending tombstones)"
        else s"skipped ${s.skipped}/${s.relevantFiles} files")
      .getOrElse("n/a")

  private def textMultiPhraseBatch(storeDir: String,
                                   queries: Seq[Seq[Seq[String]]],
                                   out: String): Unit = {
    val spark = GraftSession.local()
    import spark.implicits._
    val q = queries.zipWithIndex.map { case (slots, i) => (i.toLong, slots) }
      .toDF("query_id", "slots")
    graft.operators.TextIndex.phraseSearchMultiBatch(spark, storeDir, q,
      "query_id", "slots").write.mode("overwrite").parquet(out)
    println(s"multi-phrase batch of ${queries.size}: " +
      s"${spark.read.parquet(out).count()} (query, doc) rows -> $out")
    spark.stop()
  }

  private def textWildPhraseBatch(storeDir: String,
                                  queries: Seq[Seq[String]],
                                  maxTerms: Int, out: String): Unit = {
    val spark = GraftSession.local()
    import spark.implicits._
    val q = queries.zipWithIndex.map { case (slots, i) => (i.toLong, slots) }
      .toDF("query_id", "slots")
    graft.operators.TextIndex.phraseSearchWildcardBatch(spark, storeDir,
        q, "query_id", "slots", maxTerms)
      .write.mode("overwrite").parquet(out)
    println(s"wildcard-phrase batch of ${queries.size}: " +
      s"${spark.read.parquet(out).count()} (query, doc) rows -> $out")
    spark.stop()
  }

  private def textLmRankPruned(storeDir: String, terms: Seq[String],
                               k: Int, mu: Double, out: String): Unit = {
    val spark = GraftSession.local()
    graft.operators.TextIndex.lmTopKPruned(spark, storeDir, terms, k, mu)
      .write.mode("overwrite").parquet(out)
    println(s"LM-Dirichlet[${terms.mkString(", ")}] mu=$mu block-max " +
      s"pruned (${pruneNote()}): ${spark.read.parquet(out).count()} " +
      s"hits -> $out")
    spark.stop()
  }

  private def textLmRankPrunedBatch(storeDir: String,
                                    queries: Seq[Seq[String]], k: Int,
                                    mu: Double, out: String): Unit = {
    val spark = GraftSession.local()
    import spark.implicits._
    val q = queries.zipWithIndex.map { case (ts, i) => (i.toLong, ts) }
      .toDF("query_id", "terms")
    graft.operators.TextIndex.lmTopKPrunedBatch(spark, storeDir, q,
      "query_id", "terms", k, mu).write.mode("overwrite").parquet(out)
    println(s"LM-Dirichlet batch of ${queries.size} mu=$mu block-max " +
      s"pruned (${pruneNote()}): ${spark.read.parquet(out).count()} " +
      s"(query, doc) rows -> $out")
    spark.stop()
  }

  private def textQueryPrunedBatch(storeDir: String,
                                   queries: Seq[Seq[String]], k: Int,
                                   out: String): Unit = {
    val spark = GraftSession.local()
    import spark.implicits._
    val q = queries.zipWithIndex.map { case (ts, i) => (i.toLong, ts) }
      .toDF("query_id", "terms")
    graft.operators.TextIndex.topKPrunedBatch(spark, storeDir, q,
      "query_id", "terms", k).write.mode("overwrite").parquet(out)
    println(s"BM25 batch of ${queries.size} block-max pruned " +
      s"(${pruneNote()}): ${spark.read.parquet(out).count()} " +
      s"(query, doc) rows -> $out")
    spark.stop()
  }

  private def textWildcard(storeDir: String, prefix: String, k: Int,
                           maxTerms: Int, out: String): Unit = {
    val spark = GraftSession.local()
    val exp = graft.operators.TextIndex.expandPrefix(spark, storeDir,
      prefix, maxTerms)
    graft.operators.TextIndex.wildcardTopK(spark, storeDir, prefix, k,
      maxTerms).write.mode("overwrite").parquet(out)
    println(s"wildcard '$prefix*' -> [${exp.mkString(", ")}]: " +
      s"${spark.read.parquet(out).count()} BM25 hits -> $out")
    spark.stop()
  }

  private def textSuffix(storeDir: String, suffix: String, k: Int,
                         maxTerms: Int, out: String): Unit = {
    val spark = GraftSession.local()
    val exp = graft.operators.TextIndex.expandSuffix(spark, storeDir,
      suffix, maxTerms)
    graft.operators.TextIndex.suffixTopK(spark, storeDir, suffix, k,
      maxTerms).write.mode("overwrite").parquet(out)
    println(s"suffix '*$suffix' -> [${exp.mkString(", ")}]: " +
      s"${spark.read.parquet(out).count()} BM25 hits -> $out")
    spark.stop()
  }

  private def textWildcardBatch(storeDir: String, prefixes: Seq[String],
                                k: Int, maxTerms: Int,
                                out: String): Unit = {
    val spark = GraftSession.local()
    import spark.implicits._
    val queries = prefixes.zipWithIndex
      .map { case (p, i) => (i.toLong, p) }.toDF("query_id", "prefix")
    graft.operators.TextIndex.wildcardTopKBatch(spark, storeDir, queries,
      "query_id", "prefix", k, maxTerms).write.mode("overwrite").parquet(out)
    println(s"${prefixes.size} wildcard queries (one batched serve): " +
      s"${spark.read.parquet(out).count()} hits -> $out")
    spark.stop()
  }

  private def textFuzzy(storeDir: String, term: String, maxDist: Int,
                        k: Int, maxTerms: Int, out: String): Unit = {
    val spark = GraftSession.local()
    val exp = graft.operators.TextIndex.expandFuzzy(spark, storeDir,
      term, maxDist, maxTerms)
    graft.operators.TextIndex.fuzzyTopK(spark, storeDir, term, maxDist,
      k, maxTerms).write.mode("overwrite").parquet(out)
    println(s"fuzzy '$term'~$maxDist -> [${exp.mkString(", ")}]: " +
      s"${spark.read.parquet(out).count()} BM25 hits -> $out")
    spark.stop()
  }

  private def textRegexp(storeDir: String, pattern: String, k: Int,
                         maxTerms: Int, out: String): Unit = {
    val spark = GraftSession.local()
    val exp = graft.operators.TextIndex.expandRegexp(spark, storeDir,
      pattern, maxTerms)
    graft.operators.TextIndex.regexpTopK(spark, storeDir, pattern, k,
      maxTerms).write.mode("overwrite").parquet(out)
    println(s"regexp /$pattern/ -> [${exp.mkString(", ")}]: " +
      s"${spark.read.parquet(out).count()} BM25 hits -> $out")
    spark.stop()
  }

  private def textFuzzyBatch(storeDir: String, specs: Seq[(String, Int)],
                             k: Int, maxTerms: Int, out: String): Unit = {
    val spark = GraftSession.local()
    import spark.implicits._
    val queries = specs.zipWithIndex
      .map { case ((t, d), i) => (i.toLong, t, d) }
      .toDF("query_id", "term", "maxd")
    graft.operators.TextIndex.fuzzyTopKBatch(spark, storeDir, queries,
        "query_id", "term", "maxd", k, maxTerms)
      .write.mode("overwrite").parquet(out)
    println(s"${specs.size} fuzzy queries (one batched serve): " +
      s"${spark.read.parquet(out).count()} hits -> $out")
    spark.stop()
  }

  private def textBm25f(fields: Seq[(String, String, Double, Double)],
                        terms: Seq[String], k: Int, out: String): Unit = {
    val spark = GraftSession.local()
    // fields front door: opted-in stores serve block-max pruned
    graft.operators.TextIndex.serveFields(spark, fields, terms, k)
      .write.mode("overwrite").parquet(out)
    val route = graft.operators.TextIndex.lastServeRoute.getOrElse("?")
    println(s"BM25F[${terms.mkString(", ")}] over " +
      s"${fields.map(_._1).mkString("+")} via $route: " +
      s"${spark.read.parquet(out).count()} hits -> $out")
    spark.stop()
  }

  private def textBm25fBatch(fields: Seq[(String, String, Double, Double)],
                             queries: Seq[Seq[String]], k: Int,
                             out: String): Unit = {
    val spark = GraftSession.local()
    import spark.implicits._
    val q = queries.zipWithIndex
      .map { case (ts, i) => (i.toLong, ts) }.toDF("query_id", "terms")
    graft.operators.TextIndex.serveFieldsBatch(spark, fields, q,
        "query_id", "terms", k)
      .write.mode("overwrite").parquet(out)
    println(s"${queries.size} BM25F queries (one batched serve) over " +
      s"${fields.map(_._1).mkString("+")}: " +
      s"${spark.read.parquet(out).count()} hits -> $out")
    spark.stop()
  }

  private def textFacetsBatch(storeDir: String, queries: Seq[Seq[String]],
                              docs: String, facetCol: String,
                              out: String): Unit = {
    val spark = GraftSession.local()
    import spark.implicits._
    val q = queries.zipWithIndex
      .map { case (ts, i) => (i.toLong, ts) }.toDF("query_id", "terms")
    graft.operators.TextIndex.facetCountsBatch(spark, storeDir, q,
        "query_id", "terms", spark.read.parquet(docs), "doc_id", facetCol)
      .write.mode("overwrite").parquet(out)
    println(s"${queries.size} facet queries (one batched serve) by " +
      s"$facetCol: ${spark.read.parquet(out).count()} rows -> $out")
    spark.stop()
  }

  private def textFacetRange(storeDir: String, terms: Seq[String],
                             docs: String, numCol: String,
                             bounds: Seq[Double], out: String): Unit = {
    val spark = GraftSession.local()
    graft.operators.TextIndex.facetRangeCounts(spark, storeDir, terms,
        spark.read.parquet(docs), "doc_id", numCol, bounds)
      .write.mode("overwrite").parquet(out)
    spark.read.parquet(out).orderBy(col("lo")).collect()
      .foreach(r => println(s"[${r.get(0)}, ${r.get(1)})\t${r.get(2)}"))
    println(s"range facets over [${terms.mkString(", ")}] by $numCol " +
      s"-> $out")
    spark.stop()
  }

  private def textFacetTop(storeDir: String, terms: Seq[String],
                           docs: String, facetCol: String, k: Int,
                           out: String): Unit = {
    val spark = GraftSession.local()
    graft.operators.TextIndex.facetTopDocs(spark, storeDir, terms,
        spark.read.parquet(docs), "doc_id", facetCol, k)
      .write.mode("overwrite").parquet(out)
    println(s"top-$k docs per $facetCol facet over " +
      s"[${terms.mkString(", ")}]: " +
      s"${spark.read.parquet(out).count()} rows -> $out")
    spark.stop()
  }

  private def textFacets(storeDir: String, terms: Seq[String],
                         docs: String, facetCol: String,
                         out: String): Unit = {
    val spark = GraftSession.local()
    val corpus = spark.read.parquet(docs)
    graft.operators.TextIndex.facetCounts(spark, storeDir, terms,
        corpus, "doc_id", facetCol)
      .write.mode("overwrite").parquet(out)
    spark.read.parquet(out)
      .orderBy(col("n_docs").desc, col("facet")).collect()
      .foreach(r => println(s"${r.get(0)}\t${r.get(1)}"))
    println(s"facets over [${terms.mkString(", ")}] by $facetCol -> $out")
    spark.stop()
  }

  private def textWildPhrase(storeDir: String, slots: Seq[String],
                             maxTerms: Int, out: String): Unit = {
    val spark = GraftSession.local()
    graft.operators.TextIndex.phraseSearchWildcard(spark, storeDir,
        slots, maxTerms)
      .orderBy(col("doc_id")).write.mode("overwrite").parquet(out)
    println(s"wildcard phrase [${slots.mkString(" ")}]: " +
      s"${spark.read.parquet(out).count()} matching docs -> $out")
    spark.stop()
  }

  private def textRegexpBatch(storeDir: String, patterns: Seq[String],
                              k: Int, maxTerms: Int, out: String): Unit = {
    val spark = GraftSession.local()
    import spark.implicits._
    val queries = patterns.zipWithIndex
      .map { case (p, i) => (i.toLong, p) }.toDF("query_id", "pat")
    graft.operators.TextIndex.regexpTopKBatch(spark, storeDir, queries,
        "query_id", "pat", k, maxTerms)
      .write.mode("overwrite").parquet(out)
    println(s"${patterns.size} regexp queries (one batched serve): " +
      s"${spark.read.parquet(out).count()} hits -> $out")
    spark.stop()
  }

  private def textQuery(storeDir: String, terms: Seq[String], k: Int,
                        out: String): Unit = {
    val spark = GraftSession.local()
    // the serve front door: an opted-in fleet (semicolon-separated
    // dirs) prunes, and so does an opted-in store whose bucket files
    // overlap in term range; a store pruning cannot help serves
    // unpruned — same rows either way (textqueryp/textquerysharded
    // stay as explicit verbs)
    val dirs = storeDir.split(";").toSeq.filter(_.nonEmpty)
    val hits = graft.operators.TextIndex.serve(spark, dirs, terms, k)
    hits.write.mode("overwrite").parquet(out)
    val shown = spark.read.parquet(out)
      .orderBy(col("score").desc, col("doc_id")).collect()
    shown.foreach(r => println(s"${r.get(0)}\t${r.get(1)}\t${r.get(2)}"))
    val route = graft.operators.TextIndex.lastServeRoute.getOrElse("?")
    println(s"${shown.length} BM25 hits for [${terms.mkString(", ")}] " +
      s"from ${dirs.mkString(";")} via $route -> $out")
    spark.stop()
  }

  private def annStoreQuery(indexDir: String, storeDir: String, emb: String,
                            id: Long, k: Int, nprobe: Int): Unit = {
    val spark = GraftSession.local()
    val index = graft.operators.Similarity.loadIndex(spark, indexDir)
    val qv = spark.read.parquet(emb).filter(col("vec_id") === id)
      .select(col("embedding")).head().getSeq[Float](0)
    val hits = graft.operators.Similarity
      .ivfStoreTopK(spark, storeDir, "vec_id", "embedding", qv, index,
        k, nprobe, excludeId = Some(id))
      .collect()
    hits.foreach(r => println(s"${r.get(0)}\t${r.get(1)}"))
    println(s"${hits.length} neighbors of $id from the postings store " +
      s"(nprobe $nprobe of ${index.cids.size} cells)")
    spark.stop()
  }

  /** pqbuild: train a product quantizer once and persist its codebooks
    * (Similarity.trainPq + savePqIndex) — the build half of the PQ
    * lifecycle. */
  private def pqBuild(emb: String, indexDir: String, m: Int, k: Int): Unit = {
    val spark = GraftSession.local()
    val index = graft.operators.Similarity
      .trainPq(spark.read.parquet(emb), "vec_id", "embedding", m, k)
    graft.operators.Similarity.savePqIndex(spark, index, indexDir)
    println(s"pq index written to $indexDir (${index.codebooks.size} subspaces x " +
      s"${index.codebooks.head.cids.size} centroids, subdim ${index.subDim})")
    spark.stop()
  }

  /** pqquery: load persisted codebooks and rank by ADC
    * (Similarity.loadPqIndex + pqProbe) — the serve half, no training. */
  private def pqQuery(indexDir: String, emb: String, id: Long, topK: Int): Unit = {
    val spark = GraftSession.local()
    val index = graft.operators.Similarity.loadPqIndex(spark, indexDir)
    val hits = graft.operators.Similarity
      .pqProbe(spark.read.parquet(emb), "vec_id", "embedding", id, index, topK)
      .collect()
    hits.foreach(r => println(s"${r.get(0)}\t${r.get(1)}"))
    println(s"${hits.length} ADC neighbors of $id " +
      s"(${index.codebooks.size} subspaces, subdim ${index.subDim})")
    spark.stop()
  }

  /** sq8build / sq8query: int8 scalar-quantized serving lifecycle
    * (Similarity.sq8Encode / sq8TopKFromCodes). Build encodes the
    * corpus once — map-only, no training pass — into a codes store 4x
    * smaller than the floats; query serves top-k from the codes alone
    * (the float vectors are never opened at serve time). */
  private def sq8Build(emb: String, storeDir: String): Unit = {
    val spark = GraftSession.local()
    val obs = org.apache.spark.sql.Observation()
    graft.operators.Similarity
      .sq8Encode(spark.read.parquet(emb), "vec_id", "embedding")
      .select(col("vec_id"), col("sq_scale"), col("sq_codes"))
      .observe(obs, count(lit(1)).as("rows"))
      .write.mode("overwrite").parquet(storeDir)
    println(s"sq8: ${obs.get("rows")} vectors encoded -> $storeDir")
    spark.stop()
  }

  /** clftrain / clfscore: the quality-classifier lifecycle
    * (Curation.trainLogistic / linearScore). Train persists the
    * vocabulary-sized (tok, weight) model frame — it never collects to
    * the driver during training; score loads the model-sized table
    * (the pqquery codebook discipline) and runs map-side inference. */
  private def clfTrain(docs: String, labelCol: String, modelDir: String,
                       rounds: Int, lr: Double): Unit = {
    val spark = GraftSession.local()
    val model = graft.operators.Curation.trainLogistic(
      spark.read.parquet(docs), "doc_id", "text", labelCol, rounds, lr)
    model.write.mode("overwrite").parquet(modelDir)
    val n = spark.read.parquet(modelDir).count()
    println(s"clf: trained $rounds rounds (lr $lr), ${n - 1} token weights -> $modelDir")
    spark.stop()
  }

  private def clfScore(docs: String, modelDir: String, out: String): Unit = {
    val spark = GraftSession.local()
    val rows = spark.read.parquet(modelDir)
      .collect().map(r => r.getString(0) -> r.getDouble(1))
    val bias = rows.collectFirst { case ("__bias__", b) => b }.getOrElse(0.0)
    val w = rows.filter(_._1 != "__bias__").toSeq
    graft.operators.Curation
      .linearScore(spark.read.parquet(docs), "doc_id", "text", w, bias)
      .write.mode("overwrite").parquet(out)
    println(s"clf: scored ${spark.read.parquet(out).count()} docs " +
      s"with ${w.size} weights -> $out")
    spark.stop()
  }

  private def sq8Query(storeDir: String, id: Long, topK: Int,
                       out: String): Unit = {
    val spark = GraftSession.local()
    val hits = graft.operators.Similarity
      .sq8TopKFromCodes(spark.read.parquet(storeDir), "vec_id", id, topK)
    hits.write.mode("overwrite").parquet(out)
    val shown = spark.read.parquet(out).orderBy(col("qsim").desc, col("vec_id"))
      .collect()
    shown.foreach(r => println(s"${r.get(0)}\t${r.get(1)}"))
    println(s"${shown.length} SQ8 neighbors of $id -> $out")
    spark.stop()
  }
}
