package graft.etl

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.sources.{Gaf, Gff3, Obo}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{coalesce, concat_ws, lit}

/** The parquet store written by the load verbs' `loadInto` paths equals
  * the in-memory merge: the GFF3 tables after each load are exactly
  * `Gff3ToChado.merge`'s live ∪ delta, a repeated load appends nothing
  * (no new files either), and a load cut short after some appends heals
  * on re-run; the OBO tables equal `OntologyMerge.merge`'s store; the
  * GAF counts are the rows written. */
class ChadoStoreWriteSpec extends SparkSpec {
  import spark.implicits._

  /** A gene → two mRNAs → exon/CDS model per gene; the CDS has both
    * mRNAs as parents. Every gene carries an Alias, Dbxrefs and a
    * lower-case attribute; every third gene has a scored EST_match with
    * a Target. */
  private def gene(i: Int): Seq[String] = {
    val chr = s"chr${i % 2 + 1}"
    val s = 1000 * i
    def row(t: String, a: Int, b: Int, attrs: String, score: String = ".") =
      s"$chr\tgen\t$t\t${s + a}\t${s + b}\t$score\t+\t${if (t == "CDS") "0" else "."}\t$attrs"
    Seq(
      row("gene", 1, 900, s"ID=g$i;Name=G$i;Alias=a$i,shared;Dbxref=GeneDB:G$i;note=n$i"),
      row("mRNA", 1, 900, s"ID=m${i}a;Parent=g$i;Dbxref=GeneDB:G$i"),
      row("mRNA", 1, 800, s"ID=m${i}b;Parent=g$i"),
      row("exon", 1, 300, s"ID=e$i;Parent=m${i}a,m${i}b"),
      row("CDS", 50, 250, s"ID=c$i;Parent=m${i}a,m${i}b")) ++
      (if (i % 3 == 0)
         Seq(row("EST_match", 10, 400, s"ID=est$i;Target=q$i 1 391 +", "97.5"))
       else Nil)
  }

  private def gff3(genes: Range): String = {
    val f = Files.createTempFile("store-write", ".gff3")
    Files.writeString(f, ("##gff-version 3" +:
      Seq("chr1", "chr2").map(c => s"$c\tgen\tchromosome\t1\t20000\t.\t.\t.\tID=$c") ++:
      genes.flatMap(gene)).mkString("", "\n", "\n"))
    f.toString
  }

  // v2 repeats genes 4-6 byte for byte and adds 7-10
  private lazy val v1 = gff3(1 to 6)
  private lazy val v2 = gff3(4 to 10)

  private def records(path: String) = Gff3.features(spark, path)

  private def load(path: String, store: String): Map[String, Long] =
    Gff3ToChado.loadInto(spark, records(path), store, featureVersion = false,
      dryRun = false)

  /** Named tables' rows as one sorted multiset of strings, columns in
    * name order (a partition column reads back last): one Spark job for
    * a whole store. */
  private def rows(tables: Seq[(String, DataFrame)]): Seq[String] =
    tables.map { case (t, df) =>
      df.select(concat_ws("\u0001", lit(t) +: df.columns.sorted.toIndexedSeq
        .map(c => coalesce(df.col(c).cast("string"), lit("<null>"))): _*))
    }.reduce(_ union _).as[String].collect().sorted.toSeq

  private def assertSame(got: Seq[(String, DataFrame)],
                         want: Seq[(String, DataFrame)]): Unit = {
    val (g, w) = (rows(got), rows(want))
    assert(g == w, s"store differs from the merged store: only written " +
      s"${g.diff(w).take(3)}, only merged ${w.diff(g).take(3)}")
  }

  private def assertStore(store: String, want: Gff3ToChado.Store): Unit = {
    val named = Gff3ToChado.Store.tables.zip(want.frames)
    assertSame(named.map { case (t, w) =>
      t -> spark.read.schema(w.schema).parquet(s"$store/$t") }, named)
  }

  /** Every file under `dir` with its length and modification time. */
  private def listing(dir: String): Map[String, (Long, Long)] = {
    val root = Path.of(dir)
    val s = Files.walk(root)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
      root.relativize(p).toString -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)
    }.toMap
    finally s.close()
  }

  private def tmpStore(tag: String): String =
    Files.createTempDirectory(tag).resolve("store").toString

  test("GFF3 loads append their delta: v1, v2, repeated v2 and a healed partial v2") {
    val st1 = Gff3ToChado.stage(spark, records(v1))
    val (exp1, want1) = Gff3ToChado.merge(st1, Gff3ToChado.Store.emptyLike(st1))
    val st2 = Gff3ToChado.stage(spark, records(v2))
    val (exp2, want2) = Gff3ToChado.merge(st2, exp1)
    assert(want1("feature") == 2 + 6 * 5 + 2) // chromosomes, models, ESTs
    assert(want2("feature") == 4 * 5 + 1) // genes 7-10 and est9
    assert(want2("featureloc_target") == 1 && want2("synonym") == 4)

    val store = tmpStore("store-write")
    assert(load(v1, store) == want1)
    assertStore(store, exp1)
    val afterV1 = listing(store)
    assert(load(v2, store) == want2)
    assertStore(store, exp2)

    // identical re-load: zero everywhere, and not one file written
    val before = listing(store)
    assert(load(v2, store).values.forall(_ == 0L))
    assert(listing(store) == before)
    assertStore(store, exp2)

    // a v2 load cut short: featureloc's delta (files v2 added under its
    // partitions) lost; the re-run re-inserts exactly those rows
    val fs = graft.sinks.HadoopSwap.fs(spark, store)
    val lost = before.keySet.diff(afterV1.keySet)
      .filter(f => f.startsWith("featureloc/") && f.endsWith(".parquet"))
    assert(lost.nonEmpty)
    lost.foreach(f => fs.delete(new org.apache.hadoop.fs.Path(s"$store/$f"), false))
    val healed = load(v2, store)
    assert(healed("featureloc") == want2("featureloc") &&
      healed("featureloc_target") == want2("featureloc_target"))
    assert((healed -- Seq("featureloc", "featureloc_target")).values.forall(_ == 0L))
    assertStore(store, exp2)
  }

  test("OBO v1 then v2 store tables equal OntologyMerge.merge's store") {
    def obo(body: String): String = {
      val f = Files.createTempFile("store-write", ".obo")
      Files.writeString(f, "format-version: 1.2\n\n" + body)
      f.toString
    }
    val v1 = obo(
      """[Term]
        |id: T:1
        |name: root
        |
        |[Term]
        |id: T:2
        |name: child
        |synonym: "kid" EXACT []
        |is_a: T:1
        |
        |[Term]
        |id: T:3
        |name: doomed
        |is_a: T:1
        |
        |[Term]
        |id: T:5
        |name: gone
        |is_a: T:2
        |""".stripMargin)
    val v2 = obo(
      """[Term]
        |id: T:1
        |name: root
        |
        |[Term]
        |id: T:2
        |name: child renamed
        |alt_id: T:3
        |synonym: "kid" EXACT []
        |synonym: "offspring" BROAD []
        |is_a: T:1
        |
        |[Term]
        |id: T:4
        |name: brand new
        |is_a: T:2
        |""".stripMargin)
    def staged(p: String) =
      OntologyMerge.stage(spark, Obo.terms(spark, p), Obo.relationships(spark, p))
    val st1 = staged(v1)
    val first = OntologyMerge.merge(st1, OntologyMerge.CvStore.emptyLike(st1))
    val second = OntologyMerge.merge(staged(v2), first.store)

    val store = tmpStore("store-write-obo")
    def load(p: String) = OntologyMerge.loadInto(spark, Obo.terms(spark, p),
      Obo.relationships(spark, p), store, metadata = true, dryRun = false)
    assert(load(v1) == first.counts)
    assert(load(v2) == second.counts)
    assert(second.counts("pruned") == 1) // T:5; T:3 survives as an alt_id
    val named = OntologyMerge.CvStore.tables.zip(second.store.frames)
    assertSame(named.map { case (t, _) => t -> spark.read.parquet(s"$store/$t") }, named)
  }

  test("GAF load counts are the rows written") {
    val f = Files.createTempFile("store-write", ".gaf")
    Files.writeString(f,
      """!gaf-version: 2.0
        |dictyBase	DDB_G1	abcA		GO:0003674	PMID:1|PMID:2	IEA		F	name one	syn1|syn2	gene	taxon:44689	20240101	dictyBase
        |dictyBase	DDB_G1	abcA		GO:0005575	PMID:3	IDA		C	name one	syn1	gene	taxon:44689	20240102	dictyBase
        |dictyBase	DDB_G2	abcB	NOT	GO:0003674	GO_REF:1	ISS		F			gene	taxon:44689	20240103	UniProt
        |""".stripMargin)
    val store = tmpStore("store-write-gaf")
    val counts = GafLoad.loadInto(Gaf.read(spark, f.toString), store)
    assert(counts.keySet == GafLoad.toStore(spark.emptyDataset[graft.chado.GafRecord]).keySet)
    assert(counts("feature_cvterm") == 4 && counts("gene") == 2)
    counts.foreach { case (t, n) =>
      assert(spark.read.parquet(s"$store/$t").count() == n, s"table $t")
    }
  }
}
