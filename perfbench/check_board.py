"""Output check for the board workload.

The harness writes each sampled entry's checked rows to
<dir>/<entry>/*.parquet, the entries' oracle SQL to <dir>/oracle_sql.json
and the path of the generated tables to <dir>/tables. This module runs the
oracle SQL in DuckDB over the same tables and compares rows the way the
repository's oracle gate does: columns sorted by name, values by repr, so
the entries' own rounding is what makes floats comparable.

Four entries need their own rule:
- q40_minhash_dedup finds candidate pairs by MinHash LSH, which can miss a
  true pair: every pair it returns must be an oracle row, with the same
  Jaccard, and it must return at least 95% of the oracle's rows. Missed
  pairs are reported as notes, not failures.
- q236_dbscan: its oracle resolves clusters with a recursive CTE that runs
  for seconds, so DuckDB computes only the epsilon graph and the core set
  with the oracle's expressions, and Python labels the components.
- q220_cc_augment: likewise, DuckDB runs the oracle's CTEs up to its pair
  set and Python labels each paired document with the least id of its
  connected component, which is what the oracle's recursive reach gives.
- q40b_minhash_probe and q75b_neardup_probe probe the index their fresh
  twins store, so they must return their twins' rows.
- q214b_ivfpq_probe must find at least two of each probe's exact top three,
  as listed by q214_ivfpq_recall.
"""
import glob
import json
import os

import duckdb

PROBE_TWINS = {"q40b_minhash_probe": "q40_minhash_dedup",
               "q75b_neardup_probe": "q75_simhash_neardup"}
# entries whose candidate generation is approximate -> least share of the
# oracle's rows they must return
RECALL_FLOOR = {"q40_minhash_dedup": 0.95}

DBSCAN_SQL = """
WITH ee AS (SELECT * FROM embeddings WHERE vec_id < 1000),
pr AS (SELECT p.vec_id da, e.vec_id db FROM ee p JOIN ee e ON p.vec_id < e.vec_id
  AND list_sum(list_apply(list_zip(p.embedding, e.embedding),
        x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
    / (sqrt(list_sum(list_apply(p.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
     * sqrt(list_sum(list_apply(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
    >= 0.35)
SELECT da, db FROM pr
"""
DBSCAN_MIN_PTS = 3


def rows(table):
    cols = sorted(table.column_names)
    return cols, [tuple((k, repr(v)) for k, v in sorted(r.items()))
                  for r in table.select(cols).to_pylist()]


def components(pairs):
    """{node: least node of its connected component} over the pairs."""
    parent = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def cc_augment(con, sql):
    """(doc_id, cluster) rows of q220's oracle: its pair CTEs run in DuckDB,
    the closure in Python."""
    head = sql.split(", edges AS (")[0]
    label = components(con.execute(f"{head} SELECT da, db FROM pairs").fetchall())
    return [{"doc_id": d, "cluster": label[d]} for d in sorted(label)]


def dbscan(con):
    """(vec_id, role, cluster) rows of density clustering over the epsilon
    graph: cores have at least DBSCAN_MIN_PTS neighbours, a core's cluster
    is the least core id in its core component, a border point takes the
    least cluster among its core neighbours, anything else is noise."""
    ids = [r[0] for r in con.execute(
        "SELECT vec_id FROM embeddings WHERE vec_id < 1000 ORDER BY vec_id").fetchall()]
    nbrs = {i: set() for i in ids}
    for a, b in con.execute(DBSCAN_SQL).fetchall():
        nbrs[a].add(b)
        nbrs[b].add(a)
    cores = {i for i in ids if len(nbrs[i]) >= DBSCAN_MIN_PTS}
    label = components([(a, a) for a in cores]
                       + [(a, b) for a in cores for b in nbrs[a] & cores])
    out = []
    for i in ids:
        if i in cores:
            out.append({"vec_id": i, "role": "core", "cluster": label[i]})
        else:
            labels = [label[c] for c in nbrs[i] & cores]
            out.append({"vec_id": i, "role": "border" if labels else "noise",
                        "cluster": min(labels) if labels else None})
    return out


def check(out_dir):
    """Returns (problems, notes): the problems are failed checks, the notes
    what an approximate entry missed within its recall floor."""
    con = duckdb.connect()
    tables = open(os.path.join(out_dir, "tables")).read().strip()
    for d in glob.glob(os.path.join(tables, "*.parquet")):
        name = os.path.basename(d)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{d}/*.parquet')")
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))

    def spark(entry):
        files = sorted(glob.glob(os.path.join(out_dir, entry, "*.parquet")))
        if not files:
            return None
        return con.execute(f"SELECT * FROM read_parquet({files!r})").fetch_arrow_table()

    problems, notes = [], []

    def compare(entry, expected, got):
        if got is None or expected is None:
            problems.append(f"{entry}: no output to compare")
            return
        (ec, er), (gc, gr) = rows(expected), rows(got)
        if ec != gc:
            problems.append(f"{entry}: columns {gc}, expected {ec}")
        elif entry in RECALL_FLOOR:
            extra, missed = set(gr) - set(er), set(er) - set(gr)
            if extra:
                problems.append(f"{entry}: {len(extra)} rows the oracle does not have, "
                                f"e.g. {sorted(extra)[0]}")
            if len(er) - len(missed) < RECALL_FLOOR[entry] * len(er):
                problems.append(f"{entry}: found {len(er) - len(missed)} of {len(er)} oracle rows")
            elif missed:
                notes.append(f"{entry}: missed {len(missed)} of {len(er)} oracle rows, "
                             f"e.g. {sorted(missed)[0]}")
        elif er != gr:
            i = next((k for k in range(min(len(er), len(gr))) if er[k] != gr[k]),
                     min(len(er), len(gr)))
            problems.append(f"{entry}: {len(gr)} rows, expected {len(er)}; first difference "
                            f"at row {i}: {gr[i] if i < len(gr) else None} vs "
                            f"{er[i] if i < len(er) else None}")

    import pyarrow as pa
    for entry, sql in sorted(oracle.items()):
        if entry == "q236_dbscan":
            expected = pa.Table.from_pylist(dbscan(con), schema=pa.schema(
                [("vec_id", pa.int64()), ("role", pa.string()), ("cluster", pa.int64())]))
        elif entry == "q220_cc_augment" and ", edges AS (" in sql:
            expected = pa.Table.from_pylist(cc_augment(con, sql), schema=pa.schema(
                [("doc_id", pa.int64()), ("cluster", pa.int64())]))
        else:
            expected = con.execute(sql).fetch_arrow_table()
        compare(entry, expected, spark(entry))
    for probe, twin in PROBE_TWINS.items():
        compare(probe, spark(twin), spark(probe))
    exact, ann = spark("q214_ivfpq_recall"), spark("q214b_ivfpq_probe")
    if exact is None or ann is None:
        problems.append("q214b_ivfpq_probe: no output to compare")
    else:
        top3 = {(r["probe_id"], r["nn_id"]) for r in exact.to_pylist()}
        probes = {r["probe_id"] for r in exact.to_pylist()}
        for p in sorted(probes):
            hits = sum(1 for r in ann.to_pylist() if r["probe_id"] == p
                       and (p, r["nn_id"]) in top3)
            if hits < 2:
                problems.append(f"q214b_ivfpq_probe: probe {p} finds {hits} of its exact top 3")
    return problems, notes
