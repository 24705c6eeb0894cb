#!/usr/bin/env python3
"""Slice / law / staged checks for the sf10 oracle-out-of-budget queries.

The standard gate (crosscheck.py) replays each oracle VERBATIM in DuckDB;
at sf10 a handful of replays exceed the VM (all-pairs signature CTEs,
220 M-edge recursive closures). Each check here asserts something EXACT
about the engine's FULL sf10 output without the corpus-sized replay:

- slice oracle: the query is per-key functional (a result row depends
  only on its own keys' inputs, given corpus-global preconditions that
  are themselves cheaply checkable), so DuckDB replays the oracle on a
  deterministic key slice and the result must equal the engine output
  restricted to that slice — exact on the slice, budget-sized.
- decomposed oracle: the expensive stage's OUTPUT is small (e.g. the
  pair list), so DuckDB recomputes the cheap downstream stage (closure,
  keep flags) from the engine's own verified upstream output and
  compares the full downstream result.
- staged replay: the verbatim oracle, split into materialized steps so
  DuckDB never holds the whole recursive pipeline in temp at once.
- law check: exact structural invariants of the planted fixture
  families (md5-deterministic classifications, per-kind partitions),
  plus recall floors where LSH banding is probabilistic.

Usage: python3 tools/sf10_checks.py <sfDir> <verifyOutDir> [--only a,b]
                                    [--json out.json]
Each check prints ok/FAIL and lands in the JSON as a CORRECTNESS row
with `err` naming the method. Validated on /tmp/sf1 (where the direct
replays are also runnable) before being trusted at sf10.
"""
import duckdb, glob, json, os, sys, time

CHECKS = {}


def check(name):
    def reg(fn):
        CHECKS[name] = fn
        return fn
    return reg


def connect(sf_dir, mem="24GB", threads=16):
    con = duckdb.connect()
    con.execute(f"SET threads={threads}")
    con.execute(f"SET memory_limit='{mem}'")
    spill = f"/tmp/duck_sf10_checks_{os.getpid()}"
    con.execute(f"SET temp_directory='{spill}'")
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def eng_view(con, out_dir, q, name="eng", where="TRUE"):
    files = glob.glob(f"{out_dir}/{q}/*.parquet")
    assert files, f"no engine output for {q} under {out_dir}"
    con.execute(f"CREATE OR REPLACE VIEW {name} AS "
                f"SELECT * FROM read_parquet({files!r}) WHERE {where}")


def symdiff(con, cols, a="eng", b="orc"):
    """(rows_a, rows_b, |symmetric difference|) over an explicit column
    list (positional EXCEPT needs both sides in one order). Both sides
    are materialized ONCE first — DuckDB re-inlines view CTE chains per
    reference, so diffing the raw views would re-run a heavy oracle
    pipeline three times."""
    con.execute(f"CREATE OR REPLACE TEMP TABLE __a AS SELECT {cols} FROM {a}")
    con.execute(f"CREATE OR REPLACE TEMP TABLE __b AS SELECT {cols} FROM {b}")
    return con.execute(
        "SELECT (SELECT COUNT(*) FROM __a), (SELECT COUNT(*) FROM __b), "
        "(SELECT COUNT(*) FROM ((SELECT * FROM __a EXCEPT ALL SELECT * FROM __b) "
        "UNION ALL (SELECT * FROM __b EXCEPT ALL SELECT * FROM __a)))").fetchone()


def oracle_sql(out_dir, q):
    return json.load(open(f"{out_dir}/oracle_sql.json"))[q]


def doc_span(con):
    """max(doc_id)+1 — the planted families live at [(k+1)*span,
    (k+2)*span) since r14 (constant offsets collided past span 100k)."""
    return con.execute("SELECT MAX(doc_id) + 1 FROM documents").fetchone()[0]


# --------------------------------------------------------------------------
@check("q206_minhash_oracle")
def q206(sf, out):
    """Slice oracle. Pair-functional: no exact collapse, no bucket cap in
    minhashPairsExact — a pair's candidacy + (inter, uni) depend only on
    the two docs' texts. Slice = doc_id < 2% of the key span (keeps the
    id-local planted families non-vacuous)."""
    con = connect(sf)
    t = con.execute("SELECT (MAX(doc_id) + 1) // 50 FROM documents").fetchone()[0]
    con.execute(f"""CREATE OR REPLACE VIEW documents AS
      SELECT * FROM read_parquet('{sf}/documents.parquet') WHERE doc_id < {t}""")
    con.execute(f"CREATE OR REPLACE VIEW orc AS ({oracle_sql(out, 'q206_minhash_oracle')})")
    eng_view(con, out, "q206_minhash_oracle",
             where=f"doc_a < {t} AND doc_b < {t}")
    a, b, d = symdiff(con, "doc_a, doc_b, inter, uni")
    assert d == 0 and a == b, f"slice mismatch: eng {a} orc {b} diff {d}"
    return f"slice_oracle doc_id<{t}: {a} pairs hash-equal"


@check("q25_minhash_pairs")
def q25(sf, out):
    """Slice oracle, group-complete: the driver corpus contains a few
    EXACT dup texts, and the md5 collapse picks each group's min id
    corpus-globally — so the slice is `doc_id < T restricted to md5
    groups that lie ENTIRELY below T` (slice-computed reps then equal
    global reps, making the whole pipeline pair-functional on the
    slice; a full-corpus bucket cap could only DROP a slice pair, which
    would surface as an orc-minus-eng diff)."""
    con = connect(sf)
    t = con.execute("SELECT (MAX(doc_id) + 1) // 100 FROM documents").fetchone()[0]
    con.execute(f"""CREATE OR REPLACE TABLE slice_ids AS
      SELECT doc_id FROM read_parquet('{sf}/documents.parquet')
      QUALIFY MAX(doc_id) OVER (PARTITION BY md5(text)) < {t}""")
    con.execute(f"""CREATE OR REPLACE VIEW documents AS
      SELECT d.* FROM read_parquet('{sf}/documents.parquet') d
      JOIN slice_ids USING (doc_id)""")
    con.execute(f"CREATE OR REPLACE VIEW orc AS ({oracle_sql(out, 'q25_minhash_pairs')})")
    eng_view(con, out, "q25_minhash_pairs")
    con.execute("""CREATE OR REPLACE VIEW engf AS
      SELECT e.* FROM eng e
      JOIN slice_ids a ON a.doc_id = e.doc_a
      JOIN slice_ids b ON b.doc_id = e.doc_b""")
    a, b, d = symdiff(con, "doc_a, doc_b, est_jaccard, jaccard", a="engf")
    assert d == 0 and a == b, f"slice mismatch: eng {a} orc {b} diff {d}"
    return f"group-complete slice_oracle doc_id<{t}: {a} pairs hash-equal"


@check("q208_dedup_pipeline_oracle")
def q208(sf, out):
    """Decomposed oracle: the pair stage is q206's output (same code path,
    same input — gated by q206's slice row), and the closure + keep stage
    is replayed IN FULL from the engine's own q206 pair list (small) over
    every sf10 doc id."""
    con = connect(sf)
    pair_files = glob.glob(f"{out}/q206_minhash_oracle/*.parquet")
    assert pair_files, "q208 decomposed check needs q206 output"
    con.execute(f"CREATE VIEW pairs AS SELECT * FROM read_parquet({pair_files!r})")
    con.execute("""CREATE OR REPLACE VIEW orc AS (
      WITH RECURSIVE
        edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs WHERE 10*inter >= 7*uni),
        ud AS MATERIALIZED (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
        reach AS (SELECT doc_id AS src, doc_id AS dst FROM documents
                  UNION
                  SELECT r.src, ud.b FROM reach r JOIN ud ON ud.a = r.dst),
        comp AS (SELECT src AS doc_id, min(dst) AS component FROM reach GROUP BY src)
      SELECT doc_id, component, doc_id = component AS keep FROM comp)""")
    eng_view(con, out, "q208_dedup_pipeline_oracle")
    a, b, d = symdiff(con, "doc_id, component, keep")
    assert d == 0 and a == b, f"closure mismatch: eng {a} orc {b} diff {d}"
    return f"decomposed_oracle (q206 pairs -> full closure replay): {a} rows hash-equal"


@check("q101_dedup_pipeline")
def q101(sf, out):
    """Decomposed oracle: pair kernel gated by q25's slice row (same
    signature/banding/verify code; the planted docs are content-derived
    from the same corpus), closure + keep replayed in full from q101's
    own thresholded edge frame (Dedup.dedupEdges over Dedup.q101Corpus;
    tools/run.sh graft.tools.DumpEdges101 writes it next to the verify
    output)."""
    con = connect(sf)
    edge_files = glob.glob(f"{out}/_edges_q101/*.parquet")
    assert edge_files, "run graft.tools.DumpEdges101 first (writes _edges_q101)"
    con.execute(f"CREATE VIEW edges0 AS SELECT * FROM read_parquet({edge_files!r})")
    sp = doc_span(con)
    con.execute(f"""CREATE OR REPLACE VIEW orc AS (
      WITH RECURSIVE
        docs101 AS (SELECT doc_id FROM documents
                    UNION ALL SELECT doc_id + {2*sp} FROM documents WHERE doc_id % 25 = 0
                    UNION ALL SELECT doc_id + {3*sp} FROM documents WHERE doc_id % 40 = 0),
        ud AS MATERIALIZED (SELECT src AS a, dst AS b FROM edges0
                            UNION SELECT dst, src FROM edges0),
        reach AS (SELECT doc_id AS src, doc_id AS dst FROM docs101
                  UNION
                  SELECT r.src, ud.b FROM reach r JOIN ud ON ud.a = r.dst),
        comp AS (SELECT src AS doc_id, min(dst) AS component FROM reach GROUP BY src)
      SELECT doc_id, component AS cluster, doc_id = component AS keep FROM comp)""")
    eng_view(con, out, "q101_dedup_pipeline")
    a, b, d = symdiff(con, "doc_id, cluster, keep")
    assert d == 0 and a == b, f"closure mismatch: eng {a} orc {b} diff {d}"
    return f"decomposed_oracle (engine edge dump -> full closure replay): {a} rows hash-equal"


def _expected_near_string(con, sf, off):
    """Expected near set for the STRING-shingle production kernel: the
    planted %20 pairs whose q94-form shingle jaccard rounds to >= 0.8 —
    computed purely in DuckDB from the fixture."""
    con.execute(f"""CREATE OR REPLACE TABLE expnear AS
      WITH src AS (SELECT doc_id, text,
                          text || ' appended near dup suffix' AS dtext
                   FROM read_parquet('{sf}/documents.parquet')
                   WHERE doc_id % 20 = 0),
        sh AS (SELECT doc_id,
                 CASE WHEN len(ws) >= 3 THEN
                   list_distinct([array_to_string(ws[i:i+2], ' ')
                                  FOR i IN generate_series(1, len(ws) - 2)])
                 ELSE [text] END AS sa,
                 CASE WHEN len(dws) >= 3 THEN
                   list_distinct([array_to_string(dws[i:i+2], ' ')
                                  FOR i IN generate_series(1, len(dws) - 2)])
                 ELSE [dtext] END AS sd
               FROM (SELECT doc_id, text, dtext, string_split(text, ' ') AS ws,
                            string_split(dtext, ' ') AS dws FROM src))
      SELECT doc_id + {off} AS doc_id FROM sh
      WHERE round(CAST(len(list_intersect(sd, sa)) AS DOUBLE)
                  / len(list_distinct(list_concat(sd, sa))), 4) >= 0.8""")


def _expected_near_modp(con, sf, out, off):
    """Expected near set for the mod-p twin kernel: reuse the generated
    toks/tok3/shing/sigs/banded CTE text from the q206 oracle (the
    independent SQL form of the whole signature arithmetic) over just
    the %20 (source, delta) pairs — candidacy (>= 1 shared band key
    with the source, whose band keys equal its whole md5 group's) AND
    the integer 5i >= 4u threshold are both modeled, so the expected
    set is exact, no recall budget needed. (Unmodeled: the corpus-side
    hot-bucket cap, which never binds on the word-salted fixtures.)"""
    sql = oracle_sql(out, "q206_minhash_oracle")
    frag = sql[sql.index("toks AS"):sql.index("cnts AS")].rstrip().rstrip(",")
    con.execute(f"""CREATE OR REPLACE VIEW documents AS
      SELECT doc_id, text FROM read_parquet('{sf}/documents.parquet')
      WHERE doc_id % 20 = 0
      UNION ALL
      SELECT doc_id + {off}, text || ' appended near dup suffix'
      FROM read_parquet('{sf}/documents.parquet') WHERE doc_id % 20 = 0""")
    con.execute(f"""CREATE OR REPLACE TABLE expnear AS
      WITH {frag},
        cnt AS (SELECT doc_id, COUNT(*) AS n FROM shing GROUP BY doc_id),
        iw AS (SELECT d.doc_id AS did, COUNT(*) AS i
               FROM shing d JOIN shing c
                 ON c.doc_id = d.doc_id - {off} AND c.x = d.x
               WHERE d.doc_id >= {off}
               GROUP BY d.doc_id),
        cand AS (SELECT DISTINCT d.doc_id AS did
                 FROM banded d JOIN banded c
                   ON c.doc_id = d.doc_id - {off}
                  AND c.band = d.band AND c.bh = d.bh
                 WHERE d.doc_id >= {off})
      SELECT d.doc_id FROM cnt d
      JOIN cnt c ON c.doc_id = d.doc_id - {off}
      JOIN cand ON cand.did = d.doc_id
      LEFT JOIN iw ON iw.did = d.doc_id
      WHERE d.doc_id >= {off}
        AND 5 * COALESCE(iw.i, 0) >= 4 * (d.n + c.n - COALESCE(iw.i, 0))""")
    # restore the plain view for later statements
    con.execute(f"""CREATE OR REPLACE VIEW documents AS
      SELECT * FROM read_parquet('{sf}/documents.parquet')""")


def _incremental_laws(sf, out, q, jcol, jexact, bands_miss_budget, modp):
    """Shared law check for the incremental / streaming dedup family.
    The driver corpus contains a few EXACT dup texts, so the expected
    match for a planted doc is its source's md5-group REPRESENTATIVE
    (min corpus id with the same text — both the exact hit and the
    near argmax tie-break resolve there). The expected NEAR membership
    is computed independently in DuckDB per planted pair (short sources
    legitimately fall under the jaccard threshold and classify unique);
    LSH banding may additionally miss at most `bands_miss_budget`."""
    con = connect(sf)
    eng_view(con, out, q)
    sp = doc_span(con)
    s2, s3, s4 = 2 * sp, 3 * sp, 4 * sp
    con.execute("""CREATE OR REPLACE TABLE rep AS
      SELECT doc_id, MIN(doc_id) OVER (PARTITION BY md5(text)) AS rep_id
      FROM documents""")
    if modp:
        _expected_near_modp(con, sf, out, s2)
    else:
        _expected_near_string(con, sf, s2)
    p20, p50, p100 = con.execute(
        """SELECT COUNT(*) FILTER (doc_id % 20 = 0),
                  COUNT(*) FILTER (doc_id % 50 = 0),
                  COUNT(*) FILTER (doc_id % 100 = 0) FROM documents""").fetchone()
    nexp = con.execute("SELECT COUNT(*) FROM expnear").fetchone()[0]
    rows = dict(con.execute(
        "SELECT kind, COUNT(*) FROM eng GROUP BY kind").fetchall())
    total = con.execute("SELECT COUNT(*) FROM eng").fetchone()[0]
    assert total == p20 + p50 + p100, f"row conservation: {total} vs {p20+p50+p100}"
    bad_exact = con.execute(
        f"""SELECT COUNT(*) FROM eng JOIN rep ON rep.doc_id = eng.doc_id - {s3}
            WHERE kind = 'exact'
            AND NOT (eng.doc_id >= {s3} AND dup_of = rep.rep_id
                     AND {jexact})""").fetchone()[0]
    assert bad_exact == 0, f"{bad_exact} structurally wrong exact rows"
    assert rows.get("exact", 0) == p50, f"exact count {rows.get('exact')} vs planted {p50}"
    # near rows: structurally correct AND inside the expected set
    bad_near = con.execute(
        f"""SELECT COUNT(*) FROM eng JOIN rep ON rep.doc_id = eng.doc_id - {s2}
            WHERE kind = 'near'
            AND NOT (eng.doc_id >= {s2} AND eng.doc_id < {s3}
                     AND dup_of = rep.rep_id AND {jcol}
                     AND eng.doc_id IN (SELECT doc_id FROM expnear))
        """).fetchone()[0]
    assert bad_near == 0, f"{bad_near} structurally wrong / unexpected near rows"
    miss = nexp - rows.get("near", 0)
    assert 0 <= miss <= bands_miss_budget, \
        f"near recall: {rows.get('near')} of expected {nexp} (miss {miss} > budget {bands_miss_budget})"
    # unique kind: reversed family + sub-threshold + banding-missed near
    bad_uni = con.execute(
        f"""SELECT COUNT(*) FROM eng WHERE kind = 'unique'
           AND NOT (doc_id >= {s4} OR (doc_id >= {s2} AND doc_id < {s3}))
        """).fetchone()[0]
    assert bad_uni == 0, f"{bad_uni} unique rows outside the planted families"
    return (f"law_check (group-rep + independent expected-near set): "
            f"{rows.get('exact')} exact set-exact, {rows.get('near')}/{nexp} "
            f"expected near (miss {miss} <= {bands_miss_budget}), partition clean")


@check("q210_incremental_dedup_oracle")
def q210(sf, out):
    # 4-band twin: candidacy modeled exactly in the expected set
    return _incremental_laws(sf, out, "q210_incremental_dedup_oracle",
                             "jq >= 800000", "jq = 1000000", 0, modp=True)


@check("q135_incremental_dedup")
def q135(sf, out):
    # production 16 bands at j~0.98: miss ~1e-18 per doc -> exact
    return _incremental_laws(sf, out, "q135_incremental_dedup",
                             "jaccard >= 0.8", "jaccard = 1.0", 0, modp=False)


@check("q211_stream_incremental_dedup_oracle")
def q211(sf, out):
    """q210's laws under prefix semantics: wave-0 corpus docs classify
    unique (nothing arrived before them and texts are distinct), the
    planted waves follow q210's laws."""
    con = connect(sf)
    eng_view(con, out, "q211_stream_incremental_dedup_oracle")
    sp = doc_span(con)
    s2, s3, s4 = 2 * sp, 3 * sp, 4 * sp
    # expected match = the source's md5-group representative (the corpus
    # has a few exact dup texts); wave-0 arrives as ONE batch, so its
    # internal dups are deliberately not cross-checked -> all unique
    con.execute("""CREATE OR REPLACE TABLE rep AS
      SELECT doc_id, MIN(doc_id) OVER (PARTITION BY md5(text)) AS rep_id
      FROM documents""")
    bad0 = con.execute(
        f"SELECT COUNT(*) FROM eng WHERE doc_id < {s2} AND kind <> 'unique'"
    ).fetchone()[0]
    assert bad0 == 0, f"{bad0} wave-0 docs not unique"
    p20, p50, p100 = con.execute(
        """SELECT COUNT(*) FILTER (doc_id % 20 = 0),
                  COUNT(*) FILTER (doc_id % 50 = 0),
                  COUNT(*) FILTER (doc_id % 100 = 0) FROM documents""").fetchone()
    ex_bad = con.execute(
        f"""SELECT COUNT(*) FROM eng JOIN rep ON rep.doc_id = eng.doc_id - {s3}
           WHERE eng.doc_id >= {s3} AND eng.doc_id < {s4}
           AND NOT (kind = 'exact' AND dup_of = rep.rep_id AND jq = 1000000)
        """).fetchone()[0]
    assert ex_bad == 0, f"{ex_bad} wave-2 exact rows wrong"
    _expected_near_modp(con, sf, out, s2)
    nexp = con.execute("SELECT COUNT(*) FROM expnear").fetchone()[0]
    near_n, bad_near = con.execute(
        f"""SELECT COUNT(*) FILTER (kind = 'near'),
                  COUNT(*) FILTER (kind = 'near' AND NOT (
                    dup_of = rep.rep_id AND jq >= 800000
                    AND eng.doc_id IN (SELECT doc_id FROM expnear)))
           FROM eng JOIN rep ON rep.doc_id = eng.doc_id - {s2}
           WHERE eng.doc_id >= {s2} AND eng.doc_id < {s3}""").fetchone()
    miss = nexp - near_n
    wrong = con.execute(
        f"""SELECT COUNT(*) FROM eng WHERE doc_id >= {s2} AND doc_id < {s3}
           AND kind NOT IN ('near', 'unique')""").fetchone()[0]
    assert wrong == 0 and bad_near == 0 and miss == 0, \
        f"wave-1 near laws: {near_n}/{nexp} expected, bad {bad_near}, miss {miss}"
    uni_bad = con.execute(
        f"""SELECT COUNT(*) FROM eng WHERE doc_id >= {s4} AND kind <> 'unique'
        """).fetchone()[0]
    assert uni_bad == 0, f"{uni_bad} wave-3 reversed docs not unique"
    return (f"law_check (prefix semantics): wave0 all-unique, {p50} exact "
            f"set-exact, near {near_n}/{nexp} expected (miss {miss}), wave3 clean")


@check("q142_stream_incremental_dedup")
def q142(sf, out):
    con = connect(sf)
    eng_view(con, out, "q142_stream_incremental_dedup")
    sp = doc_span(con)
    s2, s3, s4 = 2 * sp, 3 * sp, 4 * sp
    con.execute("""CREATE OR REPLACE TABLE rep AS
      SELECT doc_id, MIN(doc_id) OVER (PARTITION BY md5(text)) AS rep_id
      FROM documents""")
    bad0 = con.execute(
        f"SELECT COUNT(*) FROM eng WHERE doc_id < {s2} AND kind <> 'unique'"
    ).fetchone()[0]
    assert bad0 == 0, f"{bad0} wave-0 docs not unique"
    p50 = con.execute("SELECT COUNT(*) FROM documents WHERE doc_id % 50 = 0").fetchone()[0]
    ex_bad = con.execute(
        f"""SELECT COUNT(*) FROM eng JOIN rep ON rep.doc_id = eng.doc_id - {s3}
           WHERE eng.doc_id >= {s3} AND eng.doc_id < {s4}
           AND NOT (kind = 'exact' AND dup_of = rep.rep_id AND jaccard = 1.0)
        """).fetchone()[0]
    assert ex_bad == 0, f"{ex_bad} wave-2 exact rows wrong"
    _expected_near_string(con, sf, s2)
    nexp = con.execute("SELECT COUNT(*) FROM expnear").fetchone()[0]
    # 16-band recall at j~0.98 is exact-grade: near set == expected set
    near_bad = con.execute(
        f"""SELECT COUNT(*) FROM eng JOIN rep ON rep.doc_id = eng.doc_id - {s2}
           WHERE eng.doc_id >= {s2} AND eng.doc_id < {s3}
           AND (kind = 'near') <> (eng.doc_id IN (SELECT doc_id FROM expnear))
        """).fetchone()[0]
    struct_bad = con.execute(
        f"""SELECT COUNT(*) FROM eng JOIN rep ON rep.doc_id = eng.doc_id - {s2}
           WHERE kind = 'near' AND eng.doc_id >= {s2} AND eng.doc_id < {s3}
           AND NOT (dup_of = rep.rep_id AND jaccard >= 0.8)""").fetchone()[0]
    assert near_bad == 0 and struct_bad == 0, \
        f"wave-1 near laws: set diff {near_bad}, struct bad {struct_bad}"
    uni_bad = con.execute(
        f"SELECT COUNT(*) FROM eng WHERE doc_id >= {s4} AND kind <> 'unique'"
    ).fetchone()[0]
    assert uni_bad == 0, f"{uni_bad} wave-3 reversed docs not unique"
    return (f"law_check (prefix semantics, production kernel): wave0 "
            f"all-unique, {p50} exact set-exact, near set-exact ({nexp} "
            f"expected), wave3 clean")


@check("q147_hard_negatives")
def q147(sf, out):
    """Slice oracle: per-anchor functional (top-5 over the whole corpus
    with native list_dot_product). Slice = anchors with vec_id % 2000 = 0
    (subset of the query's own % 10 = 0 anchor set)."""
    con = connect(sf)
    sql = oracle_sql(out, "q147_hard_negatives")
    assert "q.vec_id % 10 = 0" in sql
    con.execute("CREATE OR REPLACE VIEW orc AS (" +
                sql.replace("q.vec_id % 10 = 0", "q.vec_id % 2000 = 0") + ")")
    eng_view(con, out, "q147_hard_negatives", where="qid % 2000 = 0")
    a, b, d = symdiff(con, "qid, vid, score")
    assert d == 0 and a == b, f"anchor-slice mismatch: eng {a} orc {b} diff {d}"
    return f"slice_oracle (anchors % 2000 = 0, full corpus scanned): {a} rows hash-equal"


@check("q231_record_linkage")
def q231(sf, out):
    """Slice oracle: per-probe functional within its (nation, segment)
    block. Slice = one nation's blocks, replayed in full."""
    con = connect(sf)
    sql = oracle_sql(out, "q231_record_linkage")
    assert "c_custkey % 10 = 7" in sql
    con.execute("CREATE OR REPLACE VIEW orc AS (" + sql.replace(
        "c_custkey % 10 = 7", "c_custkey % 10 = 7 AND c_nationkey = 3") + ")")
    eng_view(con, out, "q231_record_linkage")
    con.execute("""CREATE OR REPLACE VIEW engf AS
      SELECT e.* FROM eng e JOIN customer c ON c.c_custkey = e.probe_key
      WHERE c.c_nationkey = 3""")
    a, b, d = symdiff(con, "probe_key, matched_key, jw_bp, bal_match, correct",
                      a="engf")
    assert d == 0 and a == b, f"block-slice mismatch: eng {a} orc {b} diff {d}"
    return f"slice_oracle (nation-3 blocks replayed in full): {a} rows hash-equal"


@check("q89_edit_distance")
def q89(sf, out):
    """Slice oracle + streamed compare. Pair-functional (dist and the
    brand/dist predicates depend only on the two rows), so the oracle
    replays over parts with p_partkey < span/50 — (1/50)^2 of the pair
    work, tens of thousands of result rows at sf10 — and the engine's
    220 M-row parquet is filtered + hash-aggregated INSIDE DuckDB (the
    r13 failure was the pandas materialization)."""
    con = connect(sf, mem="40GB")
    t = con.execute("SELECT (MAX(p_partkey) + 1) // 50 FROM part").fetchone()[0]
    con.execute(f"""CREATE OR REPLACE VIEW part AS
      SELECT * FROM read_parquet('{sf}/part.parquet') WHERE p_partkey < {t}""")
    sql = oracle_sql(out, "q89_edit_distance")
    files = glob.glob(f"{out}/q89_edit_distance/*.parquet")
    eh = con.execute(
        f"""SELECT COUNT(*), SUM(hash(key_a, key_b, dist))
            FROM read_parquet({files!r}) WHERE key_a < {t} AND key_b < {t}"""
    ).fetchone()
    oh = con.execute(
        f"SELECT COUNT(*), SUM(hash(key_a, key_b, dist)) FROM ({sql})").fetchone()
    assert eh == oh and eh[0] > 0, f"slice hash mismatch: eng {eh} orc {oh}"
    return f"slice_oracle p_partkey<{t} + streamed hash: {eh[0]} rows multiset-equal"


@check("q156_pagerank")
def q156(sf, out):
    """Staged replay: the verbatim oracle's iterations, materialized one
    at a time (a single recursive CTE held the whole 220 M-edge pipeline
    in temp; staged tables bound the working set to one join each)."""
    con = connect(sf, mem="40GB")
    con.execute("""CREATE TABLE e AS
      WITH e0 AS (SELECT DISTINCT 2 * o_custkey AS src, 2 * l_partkey + 1 AS dst
                  FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
      SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0""")
    con.execute("CREATE TABLE deg AS SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM e GROUP BY src")
    con.execute("CREATE TABLE p0 AS SELECT src AS node, CAST(1000000 AS BIGINT) AS pr FROM deg")
    for i in range(1, 4):
        con.execute(f"""CREATE TABLE p{i} AS
          SELECT e.dst AS node, 150000 + (85 * SUM(p{i-1}.pr // d.deg)) // 100 AS pr
          FROM e JOIN deg d USING (src) JOIN p{i-1} ON p{i-1}.node = e.src
          GROUP BY e.dst""")
        con.execute(f"DROP TABLE p{i-1}")
    con.execute("""CREATE OR REPLACE VIEW orc AS
      SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'part' END AS node_type,
             CAST(node // 2 AS BIGINT) AS id, CAST(pr AS BIGINT) AS pr
      FROM p3 ORDER BY pr DESC, node_type ASC NULLS FIRST, id ASC NULLS FIRST
      LIMIT 100""")
    eng_view(con, out, "q156_pagerank")
    a, b, d = symdiff(con, "node_type, id, pr")
    assert d == 0 and a == b, f"staged replay mismatch: eng {a} orc {b} diff {d}"
    return f"staged_full_replay (3 materialized iterations): top-{a} hash-equal"


@check("q221_pq_adc_oracle")
def q221(sf, out):
    """Reduced-view oracle: codebooks/centroids are data-independent and
    per-vector routing/encoding is functional, so replaying the verbatim
    oracle over ONLY (returned vids + a query slice) returns exactly the
    engine's rows for those queries — any displacement would contradict
    the full run's top-k."""
    con = connect(sf)
    eng_view(con, out, "q221_pq_adc_oracle")
    qs = [r[0] for r in con.execute(
        "SELECT DISTINCT qid FROM eng WHERE qid % 5000 = 0").fetchall()]
    assert qs, "query slice is empty"
    con.execute(f"""CREATE OR REPLACE TABLE keep_ids AS
      SELECT DISTINCT vid AS vec_id FROM eng WHERE qid IN ({','.join(map(str, qs))})
      UNION SELECT unnest({qs!r}::BIGINT[])""")
    con.execute(f"""CREATE OR REPLACE VIEW embeddings AS
      SELECT e.* FROM read_parquet('{sf}/embeddings.parquet') e
      JOIN keep_ids k ON k.vec_id = e.vec_id""")
    sql = oracle_sql(out, "q221_pq_adc_oracle")
    assert "vec_id % 50 = 0" in sql
    con.execute("CREATE OR REPLACE VIEW orc AS (" +
                sql.replace("vec_id % 50 = 0", "vec_id % 5000 = 0") + ")")
    con.execute(f"""CREATE OR REPLACE VIEW engf AS
      SELECT * FROM eng WHERE qid % 5000 = 0""")
    cols = con.execute("SELECT * FROM engf LIMIT 0").df().columns.tolist()
    a, b, d = symdiff(con, ", ".join(cols), a="engf")
    assert d == 0 and a == b, f"reduced-view mismatch: eng {a} orc {b} diff {d}"
    return f"reduced_view_oracle ({len(qs)} queries, returned vids re-routed+re-encoded): {a} rows hash-equal"


@check("q209_training_shards_oracle")
def q209(sf, out):
    """Law check over the full sf10 output, anchored to the VERIFIED
    q208 output: kept-doc conservation (rows == q208 keep=true), per-doc
    component equality with q208 (the shared pipeline prefix), dense
    train positions (a permutation 0..n-1, null off-train). Validated
    law-for-law against the sf1 direct-oracle run."""
    con = connect(sf)
    eng_view(con, out, "q209_training_shards_oracle")
    eng_view(con, out, "q208_dedup_pipeline_oracle", name="c8")
    dup = con.execute("SELECT COUNT(*) - COUNT(DISTINCT doc_id) FROM eng").fetchone()[0]
    assert dup == 0, f"{dup} duplicate doc assignments"
    n, keep = con.execute(
        "SELECT (SELECT COUNT(*) FROM eng), (SELECT COUNT(*) FILTER (keep) FROM c8)"
    ).fetchone()
    assert n == keep, f"kept-doc conservation: {n} shard rows vs {keep} kept"
    cmis = con.execute(
        """SELECT COUNT(*) FROM eng JOIN c8 USING (doc_id)
           WHERE eng.component <> c8.component""").fetchone()[0]
    assert cmis == 0, f"{cmis} rows disagree with q208 components"
    posbad = con.execute(
        """SELECT (SELECT COUNT(*) FROM (
                     SELECT pos, row_number() OVER (ORDER BY pos) - 1 AS rn
                     FROM eng WHERE pos IS NOT NULL) WHERE pos <> rn)
                + (SELECT COUNT(*) FROM eng
                   WHERE (split = 'train') <> (pos IS NOT NULL))""").fetchone()[0]
    assert posbad == 0, "train positions not a dense permutation"
    return (f"law_check (vs verified q208): {n} kept docs conserved, "
            f"components equal, train pos dense")


# --------------------------------------------------------------------------
# r15 (VERDICT r14 #8): law rows for the five remaining no-oracle queries,
# so every sf10 row asserts something AT sf10. The ANN checks build the
# EXACT cosine baseline in DuckDB (5 query vectors x 200k embeddings is
# budget-trivial); recall floors were validated on /tmp/sf1 first.

EXACT_TOPK = """
  WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
             FROM embeddings),
  q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5),
  s AS (SELECT q.qid, e.vec_id AS vid,
          list_sum([pr[1] * pr[2] FOR pr IN list_zip(q.qv, e.v)])
          / (sqrt(list_sum([x * x FOR x IN q.qv]))
             * sqrt(list_sum([x * x FOR x IN e.v]))) AS cos
        FROM q JOIN e ON e.vec_id <> q.qid)
  SELECT qid, vid, round(cos, 4) AS score,
         row_number() OVER (PARTITION BY qid
           ORDER BY round(cos, 4) DESC, vid ASC) AS rk
  FROM s"""


def _ann_recall(sf, out, q, floor, score_col="score", score_law=True):
    """Shared ANN law: (a) every emitted (qid, vid) score equals the
    exact DuckDB cosine within 2e-4 (two independent float stacks + the
    round(4) boundary), (b) recall@10 vs the exact top-10 >= floor."""
    con = connect(sf)
    eng_view(con, out, q)
    con.execute(f"CREATE OR REPLACE TEMP TABLE exact AS ({EXACT_TOPK})")
    if score_law:
        bad = con.execute(f"""SELECT COUNT(*) FROM eng
          JOIN exact USING (qid, vid)
          WHERE abs(eng.{score_col} - exact.score) > 2e-4""").fetchone()[0]
        assert bad == 0, f"{bad} emitted scores disagree with exact cosine"
    n, hit = con.execute("""SELECT (SELECT COUNT(*) FROM eng),
      (SELECT COUNT(*) FROM eng JOIN exact USING (qid, vid) WHERE exact.rk <= 10)
      """).fetchone()
    recall = hit / max(1, n)
    assert n == 50, f"expected 5 qids x 10 rows, got {n}"
    assert recall >= floor, f"recall@10 {recall:.2f} < floor {floor}"
    return f"law_check vs exact DuckDB cosine baseline: recall@10 {recall:.2f} >= {floor}, scores exact"


@check("q30_ann_lsh_topk")
def q30(sf, out):
    """LSH top-k vs the exact baseline (recall floor from the measured
    0.84 overall; LSH holds high recall for the top of the ranking)."""
    return _ann_recall(sf, out, "q30_ann_lsh_topk", 0.60)


@check("q31_ann_ivf_topk")
def q31(sf, out):
    """IVF top-k vs the exact baseline (nprobe-pruned lists)."""
    return _ann_recall(sf, out, "q31_ann_ivf_topk", 0.60)


@check("q193_ivfpq_search")
def q193(sf, out):
    """IVF-PQ: ADC distances are code-space (not recomputable in SQL —
    q221 gates that arithmetic), so the laws are structural + recall:
    dense ranks 1..10 per qid ordered by d2, and recall@10 vs exact
    (quantized distances rank coarser: lower floor)."""
    con = connect(sf)
    eng_view(con, out, "q193_ivfpq_search")
    bad = con.execute("""SELECT COUNT(*) FROM (
        SELECT rank, d2, row_number() OVER (PARTITION BY qid
          ORDER BY d2 ASC, vid ASC) AS rr,
          min(d2) OVER (PARTITION BY qid) AS dmin
        FROM eng) WHERE rank <> rr OR d2 < 0""").fetchone()[0]
    assert bad == 0, f"{bad} rows break the dense-rank/d2-order law"
    con.execute(f"CREATE OR REPLACE TEMP TABLE exact AS ({EXACT_TOPK})")
    n, hit = con.execute("""SELECT (SELECT COUNT(*) FROM eng),
      (SELECT COUNT(*) FROM eng JOIN exact USING (qid, vid) WHERE exact.rk <= 10)
      """).fetchone()
    recall = hit / max(1, n)
    assert n == 50, f"expected 50 rows, got {n}"
    assert recall >= 0.40, f"PQ recall@10 {recall:.2f} < 0.40"
    return f"law_check: ranks dense by d2, recall@10 {recall:.2f} >= 0.40 vs exact"


@check("q27_embedding_neardup")
def q27(sf, out):
    """Exact planted-pair law: the driver corpus is dup-free, so the
    engine output must be EXACTLY the 5 planted pairs (i, i+span) —
    span-derived ids since r15 — and each emitted cosine must equal the
    DuckDB-recomputed cosine of (v_i, v_i + 0.02) within 2e-4 and clear
    the 0.9 threshold."""
    con = connect(sf)
    eng_view(con, out, "q27_embedding_neardup")
    span = con.execute("SELECT MAX(vec_id) + 1 FROM embeddings").fetchone()[0]
    bad = con.execute(f"""
      WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                 FROM embeddings WHERE vec_id < 5),
      pl AS (SELECT vec_id AS id_a, CAST(vec_id + {span} AS BIGINT) AS id_b, v,
                    list_transform(v, x -> x + CAST(0.02 AS DOUBLE)) AS w FROM e),
      want AS (SELECT id_a, id_b,
                 round(list_sum([pr[1] * pr[2] FOR pr IN list_zip(v, w)])
                   / (sqrt(list_sum([x * x FOR x IN v]))
                      * sqrt(list_sum([x * x FOR x IN w]))), 4) AS cosine
               FROM pl)
      SELECT (SELECT COUNT(*) FROM eng) AS n_eng,
             (SELECT COUNT(*) FROM want WHERE cosine >= 0.9) AS n_want,
             (SELECT COUNT(*) FROM eng JOIN want USING (id_a, id_b)
              WHERE abs(eng.cosine - want.cosine) > 2e-4 OR eng.cosine < 0.9) AS n_bad
      """).fetchone()
    n_eng, n_want, n_bad = bad
    assert n_eng == n_want == 5 and n_bad == 0, \
        f"planted-pair law: eng {n_eng}, expected {n_want}, mismatched {n_bad}"
    return f"law_check: exactly the 5 planted (i, i+{span}) pairs, cosines exact"


@check("q132_training_shards")
def q132(sf, out):
    """q209's law pattern anchored to the VERIFIED q101 output (same
    production kernel, same planted corpus, same 0.8 threshold):
    kept-doc conservation + per-doc cluster equality with q101, one
    split per cluster, dense train positions, bin_fill <= the 4096 cap
    and constant within each (split, source-shard, bin)."""
    con = connect(sf)
    eng_view(con, out, "q132_training_shards")
    eng_view(con, out, "q101_dedup_pipeline", name="c1")
    n, keep = con.execute(
        "SELECT (SELECT COUNT(*) FROM eng), (SELECT COUNT(*) FILTER (keep) FROM c1)"
    ).fetchone()
    assert n == keep, f"kept-doc conservation: {n} shard rows vs {keep} kept"
    cmis = con.execute("""SELECT COUNT(*) FROM eng JOIN c1 USING (doc_id)
        WHERE eng.cluster <> c1.cluster""").fetchone()[0]
    assert cmis == 0, f"{cmis} rows disagree with q101 clusters"
    smix = con.execute("""SELECT COUNT(*) FROM (
        SELECT cluster FROM eng GROUP BY cluster
        HAVING COUNT(DISTINCT split) > 1)""").fetchone()[0]
    assert smix == 0, f"{smix} clusters straddle splits (leakage)"
    posbad = con.execute("""SELECT (SELECT COUNT(*) FROM (
          SELECT pos, row_number() OVER (ORDER BY pos) - 1 AS rn
          FROM eng WHERE pos IS NOT NULL) WHERE pos <> rn)
        + (SELECT COUNT(*) FROM eng
           WHERE (split = 'train') <> (pos IS NOT NULL))""").fetchone()[0]
    assert posbad == 0, "train positions not a dense permutation"
    # bin_fill is the RUNNING fill after each first-fit placement, so
    # within a bin the values are distinct and capped (validated on sf1)
    binbad = con.execute("""SELECT COUNT(*) FROM (
        SELECT split, shard, bin FROM eng GROUP BY split, shard, bin
        HAVING COUNT(*) <> COUNT(DISTINCT bin_fill) OR MAX(bin_fill) > 4096)""").fetchone()[0]
    assert binbad == 0, f"{binbad} bins break the running-fill law"
    return (f"law_check (vs verified q101): {n} kept docs conserved, clusters "
            f"equal, splits cluster-pure, train pos dense, fills <= 4096")


# --------------------------------------------------------------------------
# Full-surface scale laws (r16, VERDICT r15 item 3): the 15 registry
# rows-only queries must assert something at sf1 the way the sf10 spot
# surface already does. These checks are sf-GENERIC like everything above
# (tools/sf1_gate.py runs them at /tmp/sf1; nothing pins them to one sf).
# --------------------------------------------------------------------------
@check("q67_approx_distinct")
def q67(sf, out):
    """HLL++ error law: n_events exact per type; approx_users within 5%
    of the exact distinct (rsd 0.02 -> 5% is 2.5 sigma)."""
    con = connect(sf)
    eng_view(con, out, "q67_approx_distinct")
    n_types, bad_n, bad_err = con.execute("""
      WITH x AS (SELECT event_type, COUNT(DISTINCT user_id) AS exact_u,
                        COUNT(*) AS n FROM events GROUP BY 1)
      SELECT (SELECT COUNT(*) FROM x),
             (SELECT COUNT(*) FROM eng JOIN x USING (event_type)
              WHERE eng.n_events <> x.n),
             (SELECT COUNT(*) FROM eng JOIN x USING (event_type)
              WHERE abs(eng.approx_users - x.exact_u) >
                    greatest(1, 0.05 * x.exact_u))""").fetchone()
    n_eng = con.execute("SELECT COUNT(*) FROM eng").fetchone()[0]
    assert n_eng == n_types, f"{n_eng} rows vs {n_types} event types"
    assert bad_n == 0, f"{bad_n} types with wrong exact n_events"
    assert bad_err == 0, f"{bad_err} types beyond 5% HLL error"
    return f"law_check: {n_eng} types, n_events exact, HLL err <= 5% vs exact"


@check("q76_approx_percentile")
def q76(sf, out):
    """Greenwald-Khanna rank-error law: accuracy 1000 permits rank error
    <= n/1000, so each pXX must lie between the exact discrete quantiles
    at p -/+ 0.002 (0.001 + rounding slack); n exact per flag."""
    con = connect(sf)
    eng_view(con, out, "q76_approx_percentile")
    bad = con.execute("""
      WITH x AS (SELECT l_returnflag,
          quantile_disc(l_extendedprice, 0.248) AS lo25,
          quantile_disc(l_extendedprice, 0.252) AS hi25,
          quantile_disc(l_extendedprice, 0.498) AS lo50,
          quantile_disc(l_extendedprice, 0.502) AS hi50,
          quantile_disc(l_extendedprice, 0.948) AS lo95,
          quantile_disc(l_extendedprice, 0.952) AS hi95,
          COUNT(*) AS n
        FROM lineitem GROUP BY 1)
      SELECT COUNT(*) FROM eng JOIN x USING (l_returnflag)
      WHERE eng.n <> x.n
         OR eng.p25 < lo25 OR eng.p25 > hi25
         OR eng.p50 < lo50 OR eng.p50 > hi50
         OR eng.p95 < lo95 OR eng.p95 > hi95""").fetchone()[0]
    n = con.execute("SELECT COUNT(*) FROM eng").fetchone()[0]
    flags = con.execute(
        "SELECT COUNT(DISTINCT l_returnflag) FROM lineitem").fetchone()[0]
    assert n == flags, f"{n} rows vs {flags} flags"
    assert bad == 0, f"{bad} flags outside the GK rank-error band"
    return f"law_check: {n} flags, n exact, p25/p50/p95 within rank band +/-0.002"


@check("q162_hll_sketch_rollup")
def q162(sf, out):
    """Sketch laws: n_days/n_events/exact_users exact vs DuckDB; BOTH
    estimates within 5% of exact (lgK=12 -> rsd ~1.6%); merged within 2%
    of direct. merged == direct EXACTLY only holds in the small/sparse
    regime (SketchesSpec's "near-exact at small n") — a streamed sketch
    reads out through the order-dependent HIP estimator while a union
    must use the composite estimator, so at dense-regime cardinalities
    the two differ by ~1% on identical registers (first observed by this
    check at the skew fixture, r16)."""
    con = connect(sf)
    eng_view(con, out, "q162_hll_sketch_rollup")
    merged_ne, bad = con.execute("""
      WITH x AS (SELECT event_type,
          COUNT(DISTINCT strftime(ts, '%Y-%m-%d')) AS days,
          COUNT(*) AS n, COUNT(DISTINCT user_id) AS exact_u
        FROM events GROUP BY 1)
      SELECT (SELECT COUNT(*) FROM eng
              WHERE abs(merged_estimate - direct_estimate) >
                    greatest(2, 0.02 * direct_estimate)),
             (SELECT COUNT(*) FROM eng JOIN x USING (event_type)
              WHERE eng.n_days <> x.days OR eng.n_events <> x.n
                 OR eng.exact_users <> x.exact_u
                 OR abs(eng.direct_estimate - x.exact_u) >
                    greatest(1, 0.05 * x.exact_u)
                 OR abs(eng.merged_estimate - x.exact_u) >
                    greatest(1, 0.05 * x.exact_u))""").fetchone()
    assert merged_ne == 0, f"{merged_ne} types: merged drifts >2% from direct"
    assert bad == 0, f"{bad} types with wrong exact columns or >5% estimate error"
    n = con.execute("SELECT COUNT(*) FROM eng").fetchone()[0]
    return f"law_check: {n} types, exacts exact, estimates <= 5% err, merged ~ direct"


@check("q160_mmr_rerank")
def q160(sf, out):
    """MMR structural + retrieval laws against the exact DuckDB cosine:
    5 qids x dense ranks 1..8, distinct vids, vid != qid; every pick is
    inside the exact top-20 retrieval pool (eps margin at the cutoff);
    the rank-1 pick attains the pool's max cosine (lambda=0.7 greedy
    picks pure relevance first). The float lambda-mix ordering itself is
    q204's integer-exact twin's job."""
    con = connect(sf)
    eng_view(con, out, "q160_mmr_rerank")
    bad_shape = con.execute("""SELECT COUNT(*) FROM (
        SELECT qid, rank, vid,
          row_number() OVER (PARTITION BY qid ORDER BY rank) AS rr,
          COUNT(*) OVER (PARTITION BY qid, vid) AS dup
        FROM eng) WHERE rank <> rr OR dup > 1 OR vid = qid""").fetchone()[0]
    assert bad_shape == 0, f"{bad_shape} rows break dense-rank/distinct/self laws"
    n, nq = con.execute(
        "SELECT COUNT(*), COUNT(DISTINCT qid) FROM eng").fetchone()
    assert (n, nq) == (40, 5), f"expected 5 qids x 8 rows, got {nq} x -> {n}"
    con.execute("""CREATE OR REPLACE TEMP TABLE pool AS
      WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
                 WHERE vec_id < 5),
      s AS (SELECT qid, e.vec_id AS vid,
              list_cosine_similarity(qv, e.embedding) AS c
            FROM q JOIN embeddings e ON e.vec_id <> qid),
      r AS (SELECT *, row_number() OVER (PARTITION BY qid
              ORDER BY c DESC, vid ASC) AS rk FROM s),
      cut AS (SELECT qid, min(c) AS c20 FROM r WHERE rk <= 20 GROUP BY qid)
      SELECT s.qid, s.vid, s.c FROM s JOIN cut USING (qid)
      WHERE s.c >= cut.c20 - 1e-6""")
    out_pool = con.execute("""SELECT COUNT(*) FROM eng
      LEFT JOIN pool USING (qid, vid) WHERE pool.vid IS NULL""").fetchone()[0]
    assert out_pool == 0, f"{out_pool} picks outside the exact top-20 pool"
    bad_first = con.execute("""SELECT COUNT(*) FROM eng
      JOIN pool USING (qid, vid)
      JOIN (SELECT qid, max(c) AS cmax FROM pool GROUP BY qid) m USING (qid)
      WHERE eng.rank = 1 AND pool.c < m.cmax - 1e-6""").fetchone()[0]
    assert bad_first == 0, f"{bad_first} rank-1 picks are not the max-cosine hit"
    return "law_check vs exact cosine pool: shape, top-20 membership, rank-1 argmax"


@check("q49_gpkg_golden_area")
def q49(sf, out):
    """sf-independent (reads the reference's own lu.gpkg, not the sf
    tables): assert the published golden — one mangrove row, 4.16 ha."""
    con = connect(sf)
    eng_view(con, out, "q49_gpkg_golden_area")
    rows = con.execute(
        "SELECT keterangan, area_ha, n_features FROM eng").fetchall()
    assert len(rows) == 1, f"expected 1 golden row, got {len(rows)}"
    ket, ha, nf = rows[0]
    assert "mangrove" in ket.lower() and ha == 4.16 and nf >= 1, rows
    return f"golden: {ket!r} area_ha=4.16 (reference summary_report.csv)"


@check("q51_reference_linked_view")
def q51(sf, out):
    """sf-independent (reference lu.gpkg x lu.csv): 31 rows, ID a dense
    1..31 permutation, no null attributes out of the join."""
    con = connect(sf)
    eng_view(con, out, "q51_reference_linked_view")
    n, ids, nulls = con.execute("""SELECT
      (SELECT COUNT(*) FROM eng),
      (SELECT COUNT(*) FROM (SELECT "ID",
         row_number() OVER (ORDER BY "ID") AS rn FROM eng) WHERE "ID" <> rn),
      (SELECT COUNT(*) FROM eng WHERE "TEMA" IS NULL OR "LUSE" IS NULL
         OR "KETERANGAN" IS NULL OR "JENIS" IS NULL OR "SUMBER" IS NULL)
      """).fetchone()
    assert (n, ids, nulls) == (31, 0, 0), (n, ids, nulls)
    return "golden: 31 rows, ID dense 1..31, all view attributes joined"


@check("q61_gpkg_roundtrip")
def q61(sf, out):
    """Write->read round trip vs q46's DIRECT-oracle-verified per-category
    aggregate: identical keterangan/count partition. Areas differ by
    construction (q61 areas native-CRS pre-transform; q46 Web-Mercator),
    so the shared law is the (keterangan, n) partition + positive areas."""
    con = connect(sf)
    eng_view(con, out, "q61_gpkg_roundtrip")
    eng_view(con, out, "q46_area_by_category", name="q46eng")
    a, b, d = symdiff(con, "keterangan, n",
                      a="(SELECT keterangan, n FROM eng)",
                      b="(SELECT keterangan, n_parcels AS n FROM q46eng)")
    assert d == 0 and a == b, f"partition mismatch: {a} vs {b}, diff {d}"
    neg = con.execute(
        "SELECT COUNT(*) FROM eng WHERE area_ha <= 0").fetchone()[0]
    assert neg == 0, f"{neg} non-positive roundtrip areas"
    return f"decomposed vs verified q46: {a} categories, counts equal, areas > 0"


@check("q40_flagship_report")
def q40(sf, out):
    """Decomposed oracle vs two verified upstreams: Total Mangrove Area
    re-derived from q46 (direct oracle) restricted to mangrove
    categories (per-category 2dp rounding -> tolerance); Highest
    Variation argmax/variance/inference re-derived from q43's verified
    monthly NDVI (exact argmax + inference string; variance to 1e-9)."""
    con = connect(sf)
    eng_view(con, out, "q40_flagship_report")
    eng_view(con, out, "q46_area_by_category", name="q46eng")
    eng_view(con, out, "q43_ndvi_monthly", name="q43eng")
    vals = dict(con.execute('SELECT "Metric", "Value" FROM eng').fetchall())
    expect_metrics = {"Analysis Type", "Total Mangrove Area (hectares)",
                      "Highest Variation Area",
                      "Variance of Highest Variation", "Inference"}
    assert set(vals) == expect_metrics, f"metric names: {sorted(vals)}"
    assert vals["Analysis Type"] == "mangrove"
    tot, ncat = con.execute("""SELECT SUM(area_ha), COUNT(*) FROM q46eng
      WHERE lower(keterangan) LIKE '%mangrove%'""").fetchone()
    got = float(vals["Total Mangrove Area (hectares)"])
    tol = 0.01 * (ncat + 1) + abs(tot) * 1e-9
    assert abs(got - tot) <= tol, f"area {got} vs q46-derived {tot} (tol {tol})"
    ket, var = con.execute("""SELECT keterangan, var_samp(ndvi) FROM q43eng
      WHERE ndvi IS NOT NULL GROUP BY 1
      ORDER BY 2 DESC NULLS LAST, 1 ASC LIMIT 1""").fetchone()
    assert vals["Highest Variation Area"] == ket, (vals["Highest Variation Area"], ket)
    gotv = float(vals["Variance of Highest Variation"])
    assert abs(gotv - var) <= 1e-9 + abs(var) * 1e-6, (gotv, var)
    expect_inf = ("High variance observed, indicating significant changes in vegetation."
                  if var > 0.5 else
                  "Moderate variance observed, indicating some changes in vegetation."
                  if var > 0.2 else
                  "Low variance observed, indicating stable vegetation.")
    assert vals["Inference"] == expect_inf, (vals["Inference"], expect_inf)
    return (f"decomposed vs verified q46+q43: area {got} (tol {tol:.3f}), "
            f"argmax {ket!r}, variance + inference law")


def _media_laws(con, fmt_col="format"):
    """Shared q48/q153 byte-exact container laws (engine view `eng` must
    carry doc_id, format, n_bytes): format partition by doc_id%3, and
    n_bytes derived EXACTLY from the text's UTF-8 length per container
    (BMP: 54-byte header + 48-byte rows; WAV: 44 + even-padded payload;
    bin: raw payload)."""
    return con.execute(f"""
      WITH d AS (SELECT doc_id, octet_length(encode(text)) AS len
                 FROM documents)
      SELECT COUNT(*) FROM (SELECT DISTINCT eng.doc_id, {fmt_col}, n_bytes
                            FROM eng) e JOIN d USING (doc_id)
      WHERE ({fmt_col} <> CASE doc_id % 3 WHEN 0 THEN 'img'
                          WHEN 1 THEN 'audio' ELSE 'bin' END)
         OR (doc_id % 3 = 0 AND n_bytes <> 54 + 48 * greatest(1, (len + 47) // 48))
         OR (doc_id % 3 = 1 AND n_bytes <> 44 + len + (len % 2))
         OR (doc_id % 3 = 2 AND n_bytes <> len)""").fetchone()[0]


@check("q48_multimodal_features")
def q48(sf, out):
    """Container laws, byte-exact: one row per document; format/codec
    partition by doc_id%3 (bmp/wav/stub); n_bytes exactly the wrapped
    UTF-8 payload size; BMP geometry (width 16, height = payload rows);
    WAV rate/channels in the geometry slots; features are normalized
    histogram fractions in [0,1]."""
    con = connect(sf)
    eng_view(con, out, "q48_multimodal_features")
    n, nd = con.execute("""SELECT (SELECT COUNT(*) FROM eng),
      (SELECT COUNT(*) FROM documents)""").fetchone()
    assert n == nd, f"{n} rows vs {nd} documents"
    bad = _media_laws(con)
    assert bad == 0, f"{bad} rows break the container byte laws"
    bad2 = con.execute("""
      WITH d AS (SELECT doc_id, octet_length(encode(text)) AS len
                 FROM documents)
      SELECT COUNT(*) FROM eng JOIN d USING (doc_id)
      WHERE (doc_id % 3 = 0 AND (codec <> 'bmp' OR width <> 16
              OR height <> greatest(1, (len + 47) // 48)))
         OR (doc_id % 3 = 1 AND (codec <> 'wav' OR width <> 16000 OR height <> 1))
         OR (doc_id % 3 = 2 AND codec <> 'stub')
         OR f0 < 0 OR f0 > 1 OR f7 < 0 OR f7 > 1""").fetchone()[0]
    assert bad2 == 0, f"{bad2} rows break codec/geometry/feature laws"
    return f"law_check: {n} docs, container bytes + codec geometry exact"


@check("q153_multimodal_resize_frames")
def q153(sf, out):
    """Resize + frame-sample laws: 4 dense frames per document (rows =
    4 x docs), serving geometry 224x224 everywhere, same byte-exact
    container laws as q48, frame features normalized."""
    con = connect(sf)
    eng_view(con, out, "q153_multimodal_resize_frames")
    n, nd = con.execute("""SELECT (SELECT COUNT(*) FROM eng),
      (SELECT COUNT(*) FROM documents)""").fetchone()
    assert n == 4 * nd, f"{n} rows vs 4 x {nd} documents"
    bad_shape = con.execute("""SELECT COUNT(*) FROM (
        SELECT doc_id, frame, row_number() OVER (PARTITION BY doc_id
          ORDER BY frame) - 1 AS rf FROM eng)
      WHERE frame <> rf""").fetchone()[0]
    assert bad_shape == 0, f"{bad_shape} rows break the dense-frame law"
    bad = _media_laws(con)
    assert bad == 0, f"{bad} rows break the container byte laws"
    bad2 = con.execute("""SELECT COUNT(*) FROM eng
      WHERE width <> 224 OR height <> 224
         OR f0 < 0 OR f0 > 1 OR frame_f0 < 0 OR frame_f0 > 1""").fetchone()[0]
    assert bad2 == 0, f"{bad2} rows break geometry/feature laws"
    return f"law_check: {nd} docs x 4 dense frames, 224x224, container bytes exact"


# --------------------------------------------------------------------------
def main():
    sf, out = sys.argv[1], sys.argv[2]
    only = None
    json_out = None
    args = sys.argv[3:]
    while args:
        a = args.pop(0)
        if a == "--only":
            only = set(args.pop(0).split(","))
        elif a == "--json":
            json_out = args.pop(0)
    report = {}
    fails = 0
    for name, fn in sorted(CHECKS.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            msg = fn(sf, out)
            print(f"ok   {name}: {msg} ({time.time()-t0:.0f}s)")
            report[name] = {"rows_match": True, "schema_match": True,
                            "hash_match": True, "spark_rows": None,
                            "err": msg}
        except Exception as e:
            fails += 1
            print(f"FAIL {name}: {e} ({time.time()-t0:.0f}s)")
            report[name] = {"rows_match": None, "schema_match": None,
                            "hash_match": False, "spark_rows": None,
                            "err": f"sf10_check_failed: {str(e)[:300]}"}
    if json_out:
        json.dump(dict(sorted(report.items())), open(json_out, "w"), indent=1)
    print(f"== {len(report) - fails} ok, {fails} fail ==")
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
