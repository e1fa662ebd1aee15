"""Output check for the benchmark: canonical digests of op results.

A result is canonicalized as tools/check.py compares one: columns sorted
by name, every double rounded to 4 dp, rows sorted. Its digest is the
sha256 of that canonical form. `expected.json` holds the digest of each
op's DuckDB oracle result on the benchmark's own inputs; run.py compares
the digest of Spark's output with it. Derive (or re-derive) it with

    python3 perfbench/oracle.py

which builds the harness, dumps every op's oracle SQL and runs it in
DuckDB over the generated lake.
"""
import datetime
import decimal
import glob
import hashlib
import json
import math
import os
import sys


def _cell(v):
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "b:" + str(v)
    # DuckDB returns a SUM of integers as HUGEINT, which arrives as a
    # decimal of scale 0; it is the same integer Spark returns as BIGINT.
    if isinstance(v, int) or (isinstance(v, decimal.Decimal) and v.as_tuple().exponent == 0):
        return "i:" + str(int(v))
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return "f:nan"
        r = round(f, 4)
        return "f:" + ("%.4f" % (0.0 if r == 0 else r))
    if isinstance(v, str):
        return "s:" + v
    if isinstance(v, bytes):
        return "x:" + v.hex()
    if isinstance(v, datetime.datetime):
        return "t:" + v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return "d:" + v.isoformat()
    if isinstance(v, dict):
        return "{" + ",".join(k + "=" + _cell(x) for k, x in sorted(v.items())) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    return "o:" + str(v)


def digest(table):
    """(rows, sha256) of a pyarrow Table in canonical form."""
    names = sorted(table.column_names)
    cols = [table.column(n).to_pylist() for n in names]
    rows = sorted("\t".join(_cell(c[i]) for c in cols) for i in range(table.num_rows))
    h = hashlib.sha256("\t".join(names).encode())
    for r in rows:
        h.update(b"\n" + r.encode())
    return table.num_rows, h.hexdigest()


def digest_dir(path):
    """Digest of a Spark parquet output directory."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        raise FileNotFoundError(f"no parquet output under {path}")
    return digest(pa.concat_tables([pq.read_table(f) for f in files]))


TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
SCHEMA_OF = {"region": "trade", "nation": "trade", "customer": "trade",
             "supplier": "trade", "part": "trade", "orders": "trade",
             "lineitem": "trade", "events": "activity", "documents": "corpus",
             "embeddings": "corpus"}

# DuckDB forms of the derived `xref` views that graft.catalog.Lake
# registers, for the SQL-text ops.
XREF_VIEWS = {
    "unified_entities": """
WITH spine AS (
  SELECT DISTINCT entity_id FROM (
    SELECT CAST(c_custkey AS BIGINT) AS entity_id FROM customer
    UNION ALL SELECT CAST(o_custkey AS BIGINT) FROM orders
    UNION ALL SELECT CAST(user_id AS BIGINT) FROM events) u),
profile AS (SELECT CAST(c_custkey AS BIGINT) AS p_id, c_name, c_acctbal FROM customer),
orderagg AS (SELECT CAST(o_custkey AS BIGINT) AS o_id, COUNT(*) AS n_orders,
  ROUND(SUM(o_totalprice), 4) AS total_spent FROM orders GROUP BY 1),
eventagg AS (SELECT CAST(user_id AS BIGINT) AS e_id, COUNT(*) AS n_events
  FROM events GROUP BY 1)
SELECT entity_id, COALESCE(c_name, 'unknown') AS entity_name,
  p_id IS NOT NULL AS has_profile, o_id IS NOT NULL AS has_orders,
  e_id IS NOT NULL AS has_events,
  COALESCE(n_orders, 0) AS n_orders,
  COALESCE(total_spent, 0.0) AS total_spent,
  COALESCE(n_events, 0) AS n_events
FROM spine
LEFT JOIN profile ON entity_id = p_id
LEFT JOIN orderagg ON entity_id = o_id
LEFT JOIN eventagg ON entity_id = e_id""",
    "priority_dedup": r"""
WITH scored AS (
  SELECT doc_id,
    md5(array_to_string(list_sort(list_distinct(
      string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' '))), ' ')) AS fp,
    source,
    CAST(regexp_extract(source, '(\d+)$', 1) AS BIGINT) AS priority,
    n_chars
  FROM documents)
SELECT doc_id, fp, source, priority, n_chars FROM (
  SELECT *, row_number() OVER (
    PARTITION BY fp ORDER BY priority, n_chars DESC, doc_id) AS rn
  FROM scored)
WHERE rn = 1""",
    "coverage_by_year": """
WITH fy AS (
  SELECT CAST(o_custkey AS BIGINT) AS entity_id,
    MIN(CAST(year(o_orderdate) AS BIGINT)) AS year
  FROM orders GROUP BY 1)
SELECT fy.year, COUNT(*) AS n_entities,
  COUNT(CASE WHEN u.has_profile THEN 1 END) AS n_profile,
  COUNT(CASE WHEN u.has_events THEN 1 END) AS n_events_src,
  COUNT(CASE WHEN u.has_profile AND u.has_orders AND u.has_events THEN 1 END)
    AS n_all_sources,
  ROUND(SUM(u.total_spent), 4) AS total_value
FROM xref.unified_entities u
JOIN fy ON u.entity_id = fy.entity_id
GROUP BY fy.year""",
}


def connect(lake):
    """DuckDB over a lake directory: flat table names (what the
    SparkEntry oracles use) plus graft's schema-qualified names."""
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(lake, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    for schema in sorted(set(SCHEMA_OF.values())) + ["xref"]:
        con.execute(f"CREATE SCHEMA {schema}")
    for t, schema in SCHEMA_OF.items():
        con.execute(f"CREATE VIEW {schema}.{t} AS SELECT * FROM main.{t}")
    for name in ["unified_entities", "priority_dedup", "coverage_by_year"]:
        con.execute(f"CREATE VIEW xref.{name} AS {XREF_VIEWS[name]}")
    return con


def derive():
    """Digest every op's oracle result into expected.json. Ops whose SQL
    and input lake are unchanged since the last derivation are kept, and
    the file is rewritten after each op, so an interrupted derivation
    resumes."""
    import run
    run.build()
    lake = run.inputs()
    sql_file = os.path.join(run.WORK, "check_sql.json")
    run.java(["--dump-sql", sql_file], heap="1g", log=os.path.join(run.WORK, "dump.log"))
    sql = json.load(open(sql_file))
    with open(os.path.join(run.BENCH, "inputs.json"), "rb") as f:
        inputs_sha = hashlib.sha256(f.read()).hexdigest()
    path = os.path.join(run.BENCH, "expected.json")
    out = json.load(open(path)) if os.path.exists(path) else {}
    for workload in sorted(sql):
        con = connect(lake)
        kept = out.get(workload, {})
        out[workload] = {}
        for op in sorted(sql[workload]):
            sha = hashlib.sha256((inputs_sha + sql[workload][op]).encode()).hexdigest()
            if kept.get(op, {}).get("key_sha256") != sha:
                # DuckDB re-evaluates an inlined CTE on every step of a
                # recursive CTE that reads it; materializing pipe02's
                # candidate pairs changes no result and cuts its oracle
                # from hours to about ten minutes.
                text = sql[workload][op].replace("pairs AS (", "pairs AS MATERIALIZED (")
                rows, d = digest(con.sql(text).arrow())
                kept[op] = {"rows": rows, "digest": d, "key_sha256": sha}
            out[workload][op] = kept[op]
            with open(path, "w") as f:
                json.dump(out, f, indent=1, sort_keys=True)
                f.write("\n")
            print(f"{workload} {op}: {kept[op]['rows']} rows", file=sys.stderr)


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    derive()
