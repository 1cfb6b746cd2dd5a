"""Seeded input generator for the perfbench workloads.

Every input a workload feeds the program is written here, before the
JVM starts, from `random.Random(seed)` alone: the same seed and sizes
give byte-identical files (see test_gen.py). Next to the inputs the
generator writes `expected.json`, the counts and answers the benchmark
checks the program's outputs against. Those expectations come from small
set models of the loaders' merge rules, written out below:

GFF3 load (gff3tochado, Gff3ToChado.merge): each table inserts the
staged rows whose natural key is not yet in the store --
  feature (uniquename), featureloc (uniquename, rank 0), featureloc_target
  (uniquename, rank 1, from Target=), analysisfeature (uniquename,
  source), synonym (alias), feature_synonym (uniquename, alias), dbxref
  (db, accession; column 2 adds GFF_source:<source>), feature_dbxref,
  feature_relationship (subject, object, part_of), featureprop
  (uniquename, prop, rank).
OBO load (obo2chado, OntologyMerge.merge): pruned = stored terms absent
  from the file and not named as an alt_id; updated = surviving terms
  whose name, definition or obsolete flag changed; new_terms,
  new_synonyms, new_alt_ids and new_relationships are set differences.
GAF load (gaf2chado, GafLoad.toStore): feature_cvterm holds one row per
  (annotation, db_ref); the dimension tables are distinct projections.
"""
import json
import os
import random

# Sizes per workload. Both paths are bound by per-job cost, not rows
# (halving the ETL inputs saved 7% of a warm release cycle), so the inputs
# are small: a run has about 40 s (chado-etl) and 70 s (text) in the
# time budget (perfbench/NOTES.md).
SIZES = {
    "chado-etl": dict(chroms=4, genes_v1=800,
                      genes_v2_new=200, obo_terms=4000, gaf_rows=10000),
    "text": dict(docs=6000, vocab=12000, queries=2000, steps=100, batch=40,
                 deletes=8),
}

SOURCES = ["dictyBase_Curator", "Sequencing_Center", "geneID_reprediction"]
EVIDENCE = ["IEA", "IDA", "IMP", "ISS", "IPI", "TAS"]
ASPECTS = ["F", "P", "C"]
NAMESPACES = {"F": "molecular_function", "P": "biological_process",
              "C": "cellular_component"}


# ---------------------------------------------------------------- GFF3

def _gene_lines(rng, n, chrom, start, strand):
    """One gene: gene -> 1..2 mRNA -> exons, CDS (multi-parent when two
    transcripts share the coding segments), and for every third gene a
    scored EST_match with a Target. Returns (lines, features) where each
    feature is the line store2gff3 should write for it, as fields."""
    gid = "DDB_G%07d" % n
    src = SOURCES[n % len(SOURCES)]
    st = "+" if strand > 0 else "-"
    nex = rng.randint(1, 4)
    exons = []
    pos = start
    for _ in range(nex):
        ln = rng.randint(40, 150)
        exons.append((pos, pos + ln - 1))
        pos += ln + rng.randint(20, 80)
    end = exons[-1][1]
    lines, feats = [], []

    def emit(ftype, s, e, attrs, phase=".", score=".", source=src):
        body = ";".join("%s=%s" % (k, v) for k, v in attrs)
        lines.append("\t".join([chrom, source, ftype, str(s), str(e), score,
                                st, phase, body]))

    def feat(uid, ftype, s, e, name, parents, phase="."):
        # the fields of the line store2gff3 writes for it: Name only when
        # it differs from ID, one line per Parent
        for p in (parents or [""]):
            feats.append((chrom, ftype, str(s), str(e), st, phase, uid,
                          "" if name == uid else name, p))

    gattrs = [("ID", gid), ("Name", "gen%d" % n)]
    if n % 3 == 0:
        gattrs.append(("Alias", "g%d,gl%d" % (n, n // 7)))
    if n % 2 == 0:
        # UniProt ids are shared by gene pairs: one dbxref, two links
        gattrs.append(("Dbxref", "GeneID:%d,UniProt:P%05d" % (n, n // 4)))
    gattrs.append(("Note", "synthetic gene %d" % n))
    if n % 5 == 0:
        gattrs.append(("curator", "ann%d,bob%d" % (n % 11, n % 13)))
    emit("gene", start, end, gattrs)
    feat(gid, "gene", start, end, "gen%d" % n, None)

    ntx = 2 if n % 4 == 0 else 1
    mids = ["%s_T%d" % (gid, t + 1) for t in range(ntx)]
    for mid in mids:
        emit("mRNA", start, end, [("ID", mid), ("Parent", gid)])
        feat(mid, "mRNA", start, end, mid, [gid])
    for t, mid in enumerate(mids):
        for x, (s, e) in enumerate(exons):
            xid = "%s_E%d" % (mid, x + 1)
            emit("exon", s, e, [("ID", xid), ("Parent", mid)])
            feat(xid, "exon", s, e, xid, [mid])
    # one CDS line per coding exon; with two transcripts the CDS is
    # shared (Parent=T1,T2), the multi-parent case
    for x, (s, e) in enumerate(exons):
        cid = "%s_C%d" % (gid, x + 1)
        ph = str(x % 3)
        emit("CDS", s, e, [("ID", cid), ("Parent", ",".join(mids))], phase=ph)
        feat(cid, "CDS", s, e, cid, mids, phase=ph)
    # every third gene has an aligned EST: scored (analysisfeature) with
    # a Target (rank-1 loc). Targets name one of 16 EST assemblies: the
    # store partitions featureloc by srcfeature, one directory each
    if n % 3 == 0:
        eid = "EST%07d" % n
        es, ee = exons[0]
        emit("EST_match", es, ee,
             [("ID", eid), ("Target", "est_contig%d %d %d +" % (
                 n % 16, 1 + n * 10, n * 10 + ee - es + 1))],
             score="%.1f" % (50 + n % 50), source="BLAST")
        feat(eid, "EST_match", es, ee, eid, None)
    return lines, feats


def _layout(seed, sz):
    """Gene number -> (chrom, start, strand), fixed for the seed so a gene
    shared by v1 and v2 is byte-identical in both."""
    rng = random.Random("layout-%d" % seed)
    per = -(-_total_genes(sz) // sz["chroms"])
    lay = {}
    for n in range(1, _total_genes(sz) + 1):
        # one 1 kb slot per gene; genes are at most 4 x 150 + 3 x 80 bp
        lay[n] = ("chr%d" % ((n - 1) // per + 1),
                  1 + ((n - 1) % per) * GENE_SLOT + rng.randint(0, 100),
                  1 if rng.random() < 0.5 else -1)
    return lay


GENE_SLOT = 1000


def _total_genes(sz):
    return sz["genes_v1"] + sz["genes_v2_new"]


def _chrom_len(sz):
    return -(-_total_genes(sz) // sz["chroms"]) * GENE_SLOT


def _write_gff3(path, sz, genes, lay, seed, fasta):
    clen = _chrom_len(sz)
    out = ["##gff-version 3"]
    for c in range(1, sz["chroms"] + 1):
        out.append("##sequence-region chr%d 1 %d" % (c, clen))
    feats = []
    for c in range(1, sz["chroms"] + 1):
        chrom = "chr%d" % c
        out.append("\t".join([chrom, ".", "chromosome", "1",
                              str(clen), ".", ".", ".",
                              "ID=%s" % chrom]))
        feats.append((chrom, "chromosome", "1", str(clen), ".", ".",
                      chrom, "", ""))
    for n in genes:
        chrom, start, strand = lay[n]
        # per-gene randomness depends on the gene alone, never on which
        # file it is written to
        grng = random.Random("gene-%d-%d" % (seed, n))
        lines, gf = _gene_lines(grng, n, chrom, start, strand)
        out.extend(lines)
        feats.extend(gf)
    out.append("##FASTA")
    for c in range(1, sz["chroms"] + 1):
        out.append(">chr%d" % c)
        seq = fasta[c - 1]
        out.extend(seq[i:i + 60] for i in range(0, len(seq), 60))
    with open(path, "w") as f:
        f.write("\n".join(out) + "\n")
    return feats


class Gff3Store:
    """Set model of the GFF3 merge: one key set per counted table."""

    TABLES = ["feature", "featureloc", "featureloc_target",
              "analysisfeature", "synonym", "feature_synonym", "dbxref",
              "feature_dbxref", "feature_relationship", "featureprop"]
    RESERVED = {"ID", "Name", "Parent", "Alias", "Dbxref", "Gap", "Target",
                "Derives_from"}

    def __init__(self):
        self.keys = {t: set() for t in self.TABLES}

    @staticmethod
    def stage(path):
        st = {t: [] for t in Gff3Store.TABLES}
        with open(path) as f:
            for line in f:
                line = line.rstrip("\n")
                if line.startswith("##FASTA"):
                    break
                if line.startswith("#") or line.count("\t") < 8:
                    continue
                c = line.split("\t")
                attrs = {}
                for kv in c[8].split(";"):
                    k, v = kv.split("=", 1)
                    attrs[k] = v.split(",")
                uid = attrs["ID"][0]
                st["feature"].append(uid)
                st["featureloc"].append((uid, 0))
                if "Target" in attrs:
                    st["featureloc_target"].append((uid, 1))
                if c[5] != ".":
                    st["analysisfeature"].append(
                        (uid, c[1] if c[1] != "." else "unknown"))
                for a in attrs.get("Alias", []):
                    st["synonym"].append(a)
                    st["feature_synonym"].append((uid, a))
                xrefs = [tuple(x.split(":", 1)) for x in attrs.get("Dbxref", [])]
                if c[1] != ".":
                    xrefs.append(("GFF_source", c[1]))
                for db, acc in xrefs:
                    st["dbxref"].append((db, acc))
                    st["feature_dbxref"].append((uid, db, acc))
                for p in attrs.get("Parent", []):
                    st["feature_relationship"].append((uid, p, "part_of"))
                for k, vs in attrs.items():
                    if k in Gff3Store.RESERVED:
                        continue
                    for r in range(len(vs)):
                        st["featureprop"].append((uid, k, r))
        return st

    def load(self, path):
        """Insert counts of loading `path`, then fold it into the store.
        Tables whose staging is not de-duplicated (feature rows dedup by
        uniquename; locs, props and analysisfeature rows do not) count
        every staged row with a new key."""
        st = self.stage(path)
        dedup = {"feature", "synonym", "feature_synonym", "dbxref",
                 "feature_dbxref", "feature_relationship"}
        counts = {}
        staged = 0
        for t in self.TABLES:
            rows = st[t]
            if t in dedup:
                rows = list(dict.fromkeys(rows))
            staged += len(rows)
            new = [r for r in rows if r not in self.keys[t]]
            counts[t] = len(new)
            self.keys[t].update(new)
        return counts, staged


# ---------------------------------------------------------------- OBO

def _obo_terms(seed, n_terms, version):
    """Term stanzas as dicts. v2 drops 2% of v1's terms (half of them
    re-appear as alt_ids of a kept term, so they are not pruned), renames
    3%, obsoletes 1%, adds synonyms to 2% and adds 5% new terms."""
    rng = random.Random("obo-%d" % seed)
    terms = []
    for i in range(1, n_terms + 1):
        ns = ASPECTS[i % 3]
        t = {"id": "GO:%07d" % i, "name": "go term %d" % i,
             "namespace": NAMESPACES[ns],
             "def": "Synthetic definition of term %d." % i,
             "synonyms": [], "alt_ids": [], "is_a": [], "part_of": [],
             "obsolete": False}
        if i % 4 == 0:
            t["synonyms"].append("term %d exact" % i)
        if i % 9 == 0:
            t["synonyms"].append("term %d broad" % i)
        if i % 50 == 0:
            t["alt_ids"].append("GO:%07d" % (5000000 + i))
        if i > 3:
            # parents are earlier terms of the same namespace, so the
            # graph is a DAG per namespace like GO's
            for _ in range(1 + (rng.random() < 0.3)):
                t["is_a"].append("GO:%07d" % (i - 3 * rng.randint(1, (i - 1) // 3)))
            if rng.random() < 0.15:
                p = rng.randrange(1, i)
                t["part_of"].append("GO:%07d" % p)
        t["is_a"] = list(dict.fromkeys(t["is_a"]))
        terms.append(t)
    if version == 1:
        return terms
    vr = random.Random("obo-v2-%d" % seed)
    ids = [t["id"] for t in terms]
    dropped = set(vr.sample(ids[10:], n_terms // 50))
    keep = [t for t in terms if t["id"] not in dropped]
    # half of the dropped ids become alt_ids of a surviving term (merged
    # terms): OntologyMerge keeps those rather than pruning them
    merged = sorted(dropped)[: len(dropped) // 2]
    for d in merged:
        keep[vr.randrange(len(keep))]["alt_ids"].append(d)
    # relationships may not point at dropped terms
    live = {t["id"] for t in keep}
    for t in keep:
        t["is_a"] = [p for p in t["is_a"] if p in live]
        t["part_of"] = [p for p in t["part_of"] if p in live]
    for t in vr.sample(keep, n_terms * 3 // 100):
        t["name"] = t["name"] + " (renamed)"
    for t in vr.sample(keep, n_terms // 100):
        t["obsolete"] = True
        t["is_a"], t["part_of"] = [], []
    for t in vr.sample(keep, n_terms // 50):
        t["synonyms"].append("%s v2 synonym" % t["name"])
    for i in range(n_terms + 1, n_terms + 1 + n_terms // 20):
        ns = ASPECTS[i % 3]
        p = [x for x in vr.sample(keep[:200], 3)
             if not x["obsolete"]][:1]
        keep.append({"id": "GO:%07d" % i, "name": "go term %d" % i,
                     "namespace": NAMESPACES[ns],
                     "def": "New definition of term %d." % i,
                     "synonyms": ["new term %d" % i], "alt_ids": [],
                     "is_a": [x["id"] for x in p], "part_of": [],
                     "obsolete": False})
    return keep


def _write_obo(path, terms, date):
    out = ["format-version: 1.2", "date: %s" % date,
           "saved-by: perfbench", "default-namespace: gene_ontology",
           "ontology: go", ""]
    for t in terms:
        out.append("[Term]")
        out.append("id: %s" % t["id"])
        out.append("name: %s" % t["name"])
        out.append("namespace: %s" % t["namespace"])
        out.append('def: "%s" [GOC:pb]' % t["def"])
        for s in t["synonyms"]:
            out.append('synonym: "%s" EXACT []' % s)
        for a in t["alt_ids"]:
            out.append("alt_id: %s" % a)
        for p in t["is_a"]:
            out.append("is_a: %s ! parent" % p)
        for p in t["part_of"]:
            out.append("relationship: part_of %s ! whole" % p)
        if t["obsolete"]:
            out.append("is_obsolete: true")
        out.append("")
    out += ["[Typedef]", "id: part_of", "name: part of",
            "is_transitive: true", ""]
    with open(path, "w") as f:
        f.write("\n".join(out))


def _obo_model(terms):
    """(cvterm map, synonym set, alt_id set, relationship set) of one
    staged OBO file; the Typedef is a term too."""
    cv = {}
    syn, alt, rel = set(), set(), set()
    for t in terms:
        name = ("%s (obsolete %s)" % (t["name"], t["id"])
                if t["obsolete"] else t["name"])
        cv[t["id"]] = (name, t["def"], t["obsolete"])
        syn.update((t["id"], s) for s in t["synonyms"])
        alt.update((t["id"], a) for a in t["alt_ids"])
        rel.update((t["id"], "is_a", p) for p in t["is_a"])
        rel.update((t["id"], "part_of", p) for p in t["part_of"])
    cv["part_of"] = ("part of", None, False)
    return cv, syn, alt, rel


def _obo_counts(old, new):
    cv0, syn0, alt0, rel0 = old
    cv1, syn1, alt1, rel1 = new
    alt_ids = {a for _, a in alt1}
    pruned = {a for a in cv0 if a not in cv1 and a not in alt_ids}
    survivors = set(cv0) - pruned
    return {"pruned": len(pruned),
            "updated": sum(1 for a in cv1 if a in survivors and cv1[a] != cv0[a]),
            "new_terms": sum(1 for a in cv1 if a not in survivors),
            "new_synonyms": len(syn1 - syn0),
            "new_alt_ids": len(alt1 - alt0),
            "new_relationships": len(rel1 - rel0)}


# ---------------------------------------------------------------- GAF

def _write_gaf(path, seed, n_rows, genes, n_terms):
    rng = random.Random("gaf-%d" % seed)
    out = ["!gaf-version: 2.0", "!generated by perfbench"]
    assoc = []
    fcv = 0
    gene_syn, gene_desc, ev = set(), set(), set()
    go_ids, gene_ids = set(), set()
    for r in range(n_rows):
        n = genes[rng.randrange(len(genes))]
        gid = "DDB_G%07d" % n
        t = rng.randint(1, n_terms)
        aspect = ASPECTS[t % 3]
        refs = ["PMID:%d" % rng.randint(1000, 99999)]
        if r % 5 == 0:
            refs.append("GO_REF:%07d" % (r % 7 + 1))
        code = EVIDENCE[rng.randrange(len(EVIDENCE))]
        qual = "NOT" if r % 31 == 0 else ""
        syns = "gen%d|g%d" % (n, n) if n % 2 else ""
        date = "20%02d%02d%02d" % (rng.randint(10, 24), rng.randint(1, 12),
                                   rng.randint(1, 28))
        name = "protein %d" % n
        out.append("\t".join(["dictyBase", gid, "gen%d" % n, qual,
                              "GO:%07d" % t, "|".join(refs), code,
                              "With:Not_supplied", aspect, name, syns,
                              "gene", "taxon:44689", date, "dictyBase",
                              "", ""]))
        fcv += len(refs)
        for ref in refs:
            assoc.append((gid, "GO:%07d" % t, ref, code))
        go_ids.add(t)
        gene_ids.add(gid)
        ev.add(code)
        for s in syns.split("|") if syns else []:
            gene_syn.add((gid, s))
        gene_desc.add((gid, name, date))
    with open(path, "w") as f:
        f.write("\n".join(out) + "\n")
    counts = {"feature_cvterm": fcv, "cvterm_go": len(go_ids),
              "gene": len(gene_ids), "evidence_synonym": len(ev),
              "gene_synonym": len(gene_syn),
              "gene_description": len(gene_desc)}
    return counts, sorted(assoc)


def gen_etl(seed, out):
    sz = SIZES["chado-etl"]
    lay = _layout(seed, sz)
    g1 = list(range(1, sz["genes_v1"] + 1))
    # v2: every other v1 gene again (identical lines) plus new genes
    total = sz["genes_v1"] + sz["genes_v2_new"]
    g2 = [n for n in g1 if n % 2 == 0] + list(range(sz["genes_v1"] + 1,
                                                    total + 1))
    clen = _chrom_len(sz)
    frng = random.Random("fasta-%d" % seed)
    fasta = ["".join(frng.choices("ACGT", k=clen))
             for _ in range(sz["chroms"])]
    f1 = _write_gff3(os.path.join(out, "release_v1.gff3"), sz, g1, lay,
                     seed, fasta)
    f2 = _write_gff3(os.path.join(out, "release_v2.gff3"), sz, g2, lay,
                     seed, fasta)
    store = Gff3Store()
    c1, s1 = store.load(os.path.join(out, "release_v1.gff3"))
    c2, s2 = store.load(os.path.join(out, "release_v2.gff3"))
    exported = sorted(set(f1) | set(f2))

    t1 = _obo_terms(seed, sz["obo_terms"], 1)
    t2 = _obo_terms(seed, sz["obo_terms"], 2)
    _write_obo(os.path.join(out, "go_v1.obo"), t1, "01:03:2024 10:00")
    _write_obo(os.path.join(out, "go_v2.obo"), t2, "01:09:2024 10:00")
    m1, m2 = _obo_model(t1), _obo_model(t2)
    empty = ({}, set(), set(), set())

    gaf_counts, assoc = _write_gaf(os.path.join(out, "annotations.gaf"),
                                   seed, sz["gaf_rows"],
                                   sorted(set(g1) | set(g2)),
                                   sz["obo_terms"])
    records = (count_lines(os.path.join(out, "release_v1.gff3"))
               + count_lines(os.path.join(out, "release_v2.gff3"))
               + len(t1) + 1 + len(t2) + 1 + sz["gaf_rows"])
    exp = {"gff3_v1": c1, "gff3_v2": c2,
           "gff3_staged_v1": s1, "gff3_staged_v2": s2,
           "obo_v1": _obo_counts(empty, m1), "obo_v2": _obo_counts(m1, m2),
           "gaf_load": gaf_counts, "gaf_export_rows": len(assoc),
           "records": records,
           "sequence_regions": {"chr%d" % c: clen
                                for c in range(1, sz["chroms"] + 1)}}
    with open(os.path.join(out, "expected.json"), "w") as f:
        json.dump(exp, f, indent=1, sort_keys=True)
    # the store2gff3 re-parse compares against these lines
    with open(os.path.join(out, "expected_features.tsv"), "w") as f:
        for r in exported:
            f.write("\t".join(r) + "\n")
    with open(os.path.join(out, "expected_annotations.tsv"), "w") as f:
        for r in assoc:
            f.write("\t".join(r) + "\n")


def count_lines(path):
    """GFF3 feature lines (the records a load stages)."""
    n = 0
    with open(path) as f:
        for line in f:
            if line.startswith("##FASTA"):
                break
            if not line.startswith("#"):
                n += 1
    return n


# ---------------------------------------------------------------- text

def _zipf_sampler(rng, vocab):
    """Zipf(s=1) over ranks 0..vocab-1, with rank -> word through a seeded
    permutation so a word's spelling says nothing about its frequency
    (the store range-partitions by word)."""
    import bisect
    import itertools
    weights = [1.0 / (r + 1) for r in range(vocab)]
    cum = list(itertools.accumulate(weights))
    total = cum[-1]
    perm = list(range(vocab))
    rng.shuffle(perm)
    words = ["w%05d" % p for p in perm]

    def draw():
        return bisect.bisect_left(cum, rng.random() * total)
    return words, draw


def _docs(rng, words, draw, first_id, n):
    return [(first_id + i,
             " ".join(words[draw()] for _ in range(rng.randint(12, 60))))
            for i in range(n)]


def _write_docs(path, docs):
    with open(path, "w") as f:
        for i, text in docs:
            f.write("%d\t%s\n" % (i, text))


def _query(rng, words, vocab, band):
    """2-3 terms from one band of the Zipf ranks: head (top 50), torso
    (50..2000) or tail (the rest)."""
    lo, hi = {"head": (0, 50), "torso": (50, 2000),
              "tail": (2000, vocab)}[band]
    return [words[r] for r in rng.sample(range(lo, hi), rng.randint(2, 3))]


BANDS = ["head", "torso", "tail"]


def gen_text(seed, out):
    """Corpus, query stream, and the ingest steps: append `batch` new docs,
    delete `deletes` live ids, probe one query. Ids are never reused, so no
    append re-uses a tombstoned id; no batch is empty."""
    sz = SIZES["text"]
    rng = random.Random("corpus-%d" % seed)
    words, draw = _zipf_sampler(rng, sz["vocab"])
    _write_docs(os.path.join(out, "corpus.tsv"),
                _docs(rng, words, draw, 0, sz["docs"]))
    qr = random.Random("queries-%d" % seed)
    with open(os.path.join(out, "queries.tsv"), "w") as f:
        for q in range(sz["queries"]):
            band = BANDS[q % 3]
            f.write("%s\t%s\n" % (band, " ".join(
                _query(qr, words, sz["vocab"], band))))
    sr = random.Random("steps-%d" % seed)
    live = list(range(sz["docs"]))
    next_id = sz["docs"]
    with open(os.path.join(out, "steps.tsv"), "w") as f:
        for s in range(sz["steps"]):
            batch = _docs(rng, words, draw, next_id, sz["batch"])
            next_id += sz["batch"]
            live.extend(i for i, _ in batch)
            doomed = []
            for _ in range(sz["deletes"]):
                doomed.append(live.pop(sr.randrange(len(live))))
            q = _query(sr, words, sz["vocab"], BANDS[s % 3])
            f.write("append\t%d\n" % len(batch))
            for i, text in batch:
                f.write("%d\t%s\n" % (i, text))
            f.write("delete\t%s\n" % ",".join(map(str, sorted(doomed))))
            f.write("query\t%s\n" % " ".join(q))


GENERATORS = {"chado-etl": gen_etl, "text": gen_text}
