"""Output checks for the perfbench workloads, run after the timed region.

Each check returns the set of operation indexes (into the harness's op
list) whose output is wrong; the runner counts them as failed.

The DuckDB compare follows the repository's oracle rules: the same
column names, the same row count, and equal values after sorting the
columns by name and the rows by every column; floats match at a 1e-9
relative tolerance.
"""
import decimal
import json
import math
import os

import duckdb
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _duck(data_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(data_dir, t + ".parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def _rows(cols, rows):
    """Columns sorted by name, rows sorted by every column."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [[float(r[i]) if isinstance(r[i], decimal.Decimal) else r[i] for i in order]
            for r in rows]
    return sorted(rows, key=lambda r: [str(v) for v in r])


def _same(a, b):
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b or abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))
    return str(a) == str(b)


def compare(got_cols, got_rows, exp_cols, exp_rows):
    """None when the result matches the oracle's, else a one-line reason."""
    if sorted(got_cols) != sorted(exp_cols):
        return f"columns {sorted(got_cols)} != {sorted(exp_cols)}"
    if len(got_rows) != len(exp_rows):
        return f"rows {len(got_rows)} != {len(exp_rows)}"
    names = sorted(got_cols)
    for i, (g, e) in enumerate(zip(_rows(got_cols, got_rows), _rows(exp_cols, exp_rows))):
        for c, x, y in zip(names, g, e):
            if not _same(x, y):
                return f"value {c}[{i}]: {x!r} != {y!r}"
    return None


def analyst(ops, facts, data_dir, work_dir):
    """Each query's first result against its DuckDB twin; later
    executions were already compared with the first in the harness."""
    con = _duck(data_dir)
    wrong, reasons = set(), {}
    for q in facts["queries"]:
        sql = facts["oracle"].get(q)
        path = os.path.join(work_dir, "out", q + ".json")
        if sql is None or not os.path.exists(path):
            continue  # no SQL twin, or the query failed (already counted)
        with open(path) as f:
            got = json.load(f)
        try:
            cur = con.execute(sql)
            exp_rows = cur.fetchall()
            reason = compare(got["columns"], got["rows"],
                             [d[0] for d in cur.description], exp_rows)
        except Exception as e:  # an oracle error is a failed check too
            reason = f"oracle error: {e}"
        if reason:
            reasons[q] = reason
            wrong |= {i for i, o in enumerate(ops) if o["name"] == q}
    return wrong, reasons


def corpus(ops, facts, data_dir):
    """The exact-dedup count against the DuckDB twin of corpus_curation;
    every curate output is a subset of the twin's survivors and has the
    same size as the first."""
    cur = _duck(data_dir).execute(facts["oracle"])
    col = [d[0] for d in cur.description].index("doc_id")
    keep = {r[col] for r in cur.fetchall()}
    reasons, first = {}, None
    if facts["exact_dedup_rows"] != len(keep):
        reasons["exact_dedup"] = f"{facts['exact_dedup_rows']} rows != twin {len(keep)}"
    wrong = set()
    for i, o in enumerate(ops):
        if not o["ok"]:
            continue
        ids = pq.read_table(o["extra"]["out"], columns=["doc_id"]).column(0).to_pylist()
        first = len(ids) if first is None else first
        if len(ids) != first or len(set(ids)) != len(ids) or not keep.issuperset(ids):
            wrong.add(i)
            reasons[o["name"]] = f"{len(ids)} rows, first call {first}"
    if "exact_dedup" in reasons:
        wrong = set(range(len(ops)))
    return wrong, reasons


def etl(ops, manifest):
    """Rows loaded per day and table equal the generator's count of new
    keys; the replay of the last day loads nothing."""
    wrong, reasons = set(), {}
    for i, o in enumerate(ops):
        if not o["ok"]:
            continue
        day = o["extra"]["day"]
        want = ({t: 0 for t in manifest["rows_per_day"]} if o["kind"] == "replay"
                else manifest["expected_new"][day - 1])
        if o["extra"]["loaded"] != want:
            wrong.add(i)
            reasons[o["name"] + ("/replay" if o["kind"] == "replay" else "")] = \
                f"loaded {o['extra']['loaded']} != {want}"
    return wrong, reasons
