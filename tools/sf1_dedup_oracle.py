#!/usr/bin/env python3
"""Windowed DuckDB oracle for the six quadratic-oracle dedup gates at
derived scale points (SURVEY §6r / round-12 item 4).

The checked-in oracle SQL for dedup_{jaccard,minhash,simhash,clusters,
cross,ingest} verifies ALL doc pairs — O(n²) list_intersect calls that
DuckDB cannot run at sf1 (50k docs → 1.25B pairs). This tool verifies
the SAME exact semantics inside a provably-sufficient candidate WINDOW
that exploits how ScaleData constructs the corpus: replica i of base
doc d is d's text + " r<i>" (one appended token → one extra 3-gram
shingle), so for any cross-family pair |J_replica − J_base| ≤ 1/|union|
≤ 1/8 (min doc = 10 words → ≥8 shingles). Therefore every true pair at
threshold t is either
  (a) within one replica family (always in the window), or
  (b) between two families whose BASE pair has J ≥ t − 0.15
      (slack 0.15 > the 0.125 drift bound),
and base pairs are only |families|² — the same size the sf0.1 oracle
already runs. Jaccard values themselves are computed EXACTLY from the
actual texts; the window only bounds which pairs get verified.

dedup_simhash's gate contract additionally bounds recall to simhash
Hamming ≤ 7 — reproducing Spark's xxhash64-based simhash inside DuckDB
is not possible, so when a signature dump is supplied
(`--sigs <parquet>`: the (doc_id, simhash) rows of
`graft.ops.Dedup.simhash(graft.Tables.documents(spark, sfDir))` written
as parquet, e.g. from spark-shell; the signature VALUES are spec-pinned
bit-equal to an independent shuffle formulation) the simhash expectation becomes
windowed-truth ∩ hamming ≤ 7, with the hamming filter recomputed in
DuckDB from those signatures. Without --sigs, dedup_simhash is checked
against the unfiltered windowed truth (exact only on corpora where
every true pair sits within the radius).

Usage: python3 tools/sf1_dedup_oracle.py <sfDir> <verifyOutDir>
           [factor=10] [--sigs <parquet>]
where <verifyOutDir> is a `graft.Verify <sfDir> <out> <gates>` dump.
"""
import sys, glob, os
import duckdb
import pandas as pd
import numpy as np

SHINGLE = """list_distinct([array_to_string(w[i:i+2], ' ')
              for i in range(1, len(w) - 1)])"""

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df

def compare(name, got, exp):
    if sorted(got.columns) != sorted(exp.columns):
        return f"SCHEMA got={sorted(got.columns)} exp={sorted(exp.columns)}"
    if len(got) != len(exp):
        return f"ROWS got={len(got)} exp={len(exp)}"
    got, exp = canon(got), canon(exp)
    for c in got.columns:
        g, e = got[c], exp[c]
        if g.dtype.kind == 'f' or e.dtype.kind == 'f':
            ok = np.allclose(g.fillna(-1e300).astype(float),
                             e.fillna(-1e300).astype(float), rtol=1e-9, atol=1e-9)
        else:
            ok = g.astype(str).fillna("∅").equals(e.astype(str).fillna("∅"))
        if not ok:
            bad = (g.astype(str) != e.astype(str))
            i = bad.idxmax() if bad.any() else 0
            return f"VALUES col={c} row{i}: got={g.iloc[i]!r} exp={e.iloc[i]!r}"
    return None

def windowed_pairs_sql(off, t):
    """True (id_a, id_b, jaccard ≥ t) pairs via the replica window."""
    return f"""
WITH sh AS (SELECT doc_id, doc_id % {off} AS fam, {SHINGLE} AS s
    FROM (SELECT doc_id, string_split(text, ' ') w FROM documents)),
  rep AS (SELECT fam, s FROM sh WHERE doc_id < {off}),
  bp AS (SELECT a.fam fa, b.fam fb FROM rep a JOIN rep b ON a.fam < b.fam
    WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
          len(list_distinct(list_concat(a.s, b.s))) >= {t} - 0.15),
  cand AS (
    SELECT a.doc_id id_a, b.doc_id id_b, a.s sa, b.s sb
    FROM sh a JOIN sh b ON a.fam = b.fam AND a.doc_id < b.doc_id
    UNION ALL
    SELECT least(x.doc_id, y.doc_id), greatest(x.doc_id, y.doc_id), x.s, y.s
    FROM bp JOIN sh x ON x.fam = bp.fa JOIN sh y ON y.fam = bp.fb),
  p AS (SELECT id_a, id_b,
      round(CAST(len(list_intersect(sa, sb)) AS DOUBLE) /
        len(list_distinct(list_concat(sa, sb))), 4) AS jaccard
    FROM cand)
SELECT id_a, id_b, jaccard FROM p WHERE jaccard >= {t}"""

def windowed_cross_sql(off, t):
    """True (new_id, old_id, jaccard ≥ t) pairs for the cross/ingest
    gates' split (existing = doc_id < 400, new = rest ∪ copies of < 50)."""
    return f"""
WITH sh AS (SELECT doc_id, doc_id % {off} AS fam, {SHINGLE} AS s
    FROM (SELECT doc_id, string_split(text, ' ') w FROM documents)),
  rep AS (SELECT fam, s FROM sh WHERE doc_id < {off}),
  bp AS (SELECT a.fam fa, b.fam fb FROM rep a JOIN rep b ON a.fam < b.fam
    WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
          len(list_distinct(list_concat(a.s, b.s))) >= {t} - 0.15),
  old AS (SELECT doc_id, fam, s FROM sh WHERE doc_id < 400),
  newd AS (SELECT doc_id, fam, s FROM sh WHERE doc_id >= 400
    UNION ALL SELECT doc_id + 1000000, fam, s FROM sh WHERE doc_id < 50),
  cand AS (
    SELECT n.doc_id new_id, o.doc_id old_id, n.s sn, o.s so
    FROM newd n JOIN old o ON n.fam = o.fam
    UNION ALL
    SELECT n.doc_id, o.doc_id, n.s, o.s FROM newd n, old o, bp
    WHERE least(n.fam, o.fam) = bp.fa AND greatest(n.fam, o.fam) = bp.fb),
  p AS (SELECT new_id, old_id,
      round(CAST(len(list_intersect(sn, so)) AS DOUBLE) /
        len(list_distinct(list_concat(sn, so))), 4) AS jaccard
    FROM cand)
SELECT new_id, old_id, jaccard FROM p WHERE jaccard >= {t}"""

def clusters_from_pairs(con, docs, pairs):
    """Connected components (min-reachable-id labels) via union-find —
    the recursive-CTE oracle at sf0.1 scale, done in python at sf1."""
    parent = {}
    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != x:
            parent[x], x = r, parent[x]
        return r
    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    for a, b in pairs[["id_a", "id_b"]].itertuples(index=False):
        union(int(a), int(b))
    return pd.DataFrame({
        "doc_id": docs,
        "cluster_id": [find(int(d)) for d in docs]})

def main():
    args = sys.argv[1:]
    sigs_path = None
    if "--sigs" in args:
        i = args.index("--sigs")
        sigs_path = args[i + 1]
        del args[i:i + 2]
    sf_dir, out_dir = args[0], args[1]
    factor = int(args[2]) if len(args) > 2 else 10
    con = duckdb.connect()
    src = f"{sf_dir}/documents.parquet"
    if os.path.isdir(src):
        src += "/*.parquet"
    con.execute(f"CREATE OR REPLACE VIEW documents AS SELECT * FROM '{src}'")
    max_id = con.execute("SELECT max(doc_id) FROM documents").fetchone()[0]
    off = (max_id + 1) // factor
    assert (max_id + 1) % factor == 0, f"doc_id range not a {factor}-fold replication"
    t = 0.5
    print(f"[sf1-oracle] docs={max_id + 1} families={off} threshold={t}")
    # the windowed truth depends only on the corpus AND the threshold —
    # cache it next to the data so repeated checks don't redo the base
    # all-pairs scan, keyed by a corpus fingerprint (doc count, max_id,
    # a content hash) + t so an in-place regeneration or a threshold
    # change can never silently verify against stale truth
    n_docs, text_fp = con.execute(
        "SELECT count(*), CAST(sum(hash(doc_id || '|' || text)) AS VARCHAR)"
        " FROM documents").fetchone()
    fp = f"n{n_docs}_m{max_id}_t{t}_h{text_fp}"
    cache = f"{sf_dir}/_dedup_truth_cache/{fp}"
    os.makedirs(cache, exist_ok=True)
    print(f"[sf1-oracle] truth-cache key: {fp}")
    def cached(name, sql):
        p = f"{cache}/{name}.parquet"
        if os.path.exists(p):
            return pd.read_parquet(p)
        df = con.execute(sql).df()
        df.to_parquet(p)
        return df
    pairs = cached("pairs", windowed_pairs_sql(off, t))
    cross = cached("cross", windowed_cross_sql(off, t))
    docs = con.execute("SELECT doc_id FROM documents ORDER BY doc_id").df()["doc_id"]
    simhash_exp = pairs
    if sigs_path:
        sp = sigs_path + ("/*.parquet" if os.path.isdir(sigs_path) else "")
        con.execute(f"CREATE OR REPLACE VIEW simsigs AS SELECT * FROM '{sp}'")
        con.register("true_pairs", pairs)
        simhash_exp = con.execute("""
            SELECT p.id_a, p.id_b, p.jaccard FROM true_pairs p
            JOIN simsigs a ON a.doc_id = p.id_a
            JOIN simsigs b ON b.doc_id = p.id_b
            WHERE bit_count(xor(a.simhash, b.simhash)) <= 7""").df()
        print(f"[sf1-oracle] simhash radius: {len(simhash_exp)}/{len(pairs)} "
              "true pairs within hamming 7")
    exp = {
        "dedup_jaccard": pairs,
        "dedup_minhash": pairs,
        "dedup_simhash": simhash_exp,
        "dedup_clusters": clusters_from_pairs(con, docs, pairs),
        "dedup_cross": cross,
        "dedup_ingest": cross,
    }
    n_pass = n_fail = 0
    for name, e in exp.items():
        d = f"{out_dir}/{name}"
        if not os.path.isdir(d):
            print(f"  {name}: SKIP (no engine dump)")
            continue
        files = glob.glob(f"{d}/*.parquet")
        got = pd.concat([pd.read_parquet(f) for f in files]) if files else pd.DataFrame()
        err = compare(name, got, e)
        if err:
            print(f"✗ {name}: {err}"); n_fail += 1
        else:
            print(f"✓ {name} ({len(got)} rows)"); n_pass += 1
    print(f"== {n_pass} pass, {n_fail} fail ==")
    sys.exit(1 if n_fail else 0)

main()
