"""Output checks: every workload's output against a reference computed
independently in DuckDB from the generated inputs.

The first untraced operation's output is compared row by row with the
reference (values canonicalized to text, as `tools/check.py` does). Every
other operation, traced ones too, must produce the same digest (row count
and order-free hash of the rows).
"""
import json
import os

import duckdb


# -- helpers -----------------------------------------------------------------

def connect(spill_dir=None):
    con = duckdb.connect()
    con.execute("SET autoinstall_known_extensions = false")  # never fetch anything
    con.execute("SET threads TO 4")
    con.execute("SET memory_limit = '2GB'")
    if spill_dir:
        con.execute(f"SET temp_directory = '{spill_dir}'")
    return con


def scan(path):
    """DuckDB table expression over a parquet file or directory of part files."""
    if os.path.isdir(path):
        return f"read_parquet('{path}/*.parquet')"
    return f"read_parquet('{path}')"


def digest(con, relation):
    """(rows, order-free hash) of a relation, every column compared as text."""
    cols = [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM {relation}").fetchall()]
    expr = ", ".join(f"coalesce(CAST(\"{c}\" AS VARCHAR), '<null>')" for c in sorted(cols))
    n, h = con.execute(f"SELECT count(*), coalesce(sum(hash({expr})), 0) FROM {relation}").fetchone()
    return int(n), str(h)


def same_rows(con, got_relation, expected_sql):
    """Row-multiset equality of the engine's output and the reference, with
    columns matched by name and every value compared as text (NULL as
    `\\N`), as `tools/check.py` canonicalizes. Returns an error or ''."""
    got_cols = sorted(r[0].lower() for r in con.execute(f"DESCRIBE SELECT * FROM {got_relation}").fetchall())
    exp_cols = sorted(r[0].lower() for r in con.execute(f"DESCRIBE SELECT * FROM ({expected_sql})").fetchall())
    if got_cols != exp_cols:
        return f"columns differ: engine={got_cols} reference={exp_cols}"
    canon = ", ".join(f"coalesce(CAST(\"{c}\" AS VARCHAR), '\\N') AS \"{c}\"" for c in got_cols)
    got = f"SELECT {canon} FROM {got_relation}"
    exp = f"SELECT {canon} FROM ({expected_sql})"
    n_got, n_exp, missing, extra = con.execute(
        f"SELECT (SELECT count(*) FROM ({got})), (SELECT count(*) FROM ({exp})), "
        f"(SELECT count(*) FROM ({exp} EXCEPT ALL {got})), (SELECT count(*) FROM ({got} EXCEPT ALL {exp}))").fetchone()
    if missing or extra:
        return f"rows differ: engine={n_got} reference={n_exp} missing={missing} extra={extra}"
    return ""


def views(con, data, names):
    for n in names:
        con.execute(f"CREATE OR REPLACE VIEW {n} AS SELECT * FROM {scan(os.path.join(data, n + '.parquet'))}")


# -- references --------------------------------------------------------------

ETL_JOINED = """
WITH j AS (
  SELECT l.l_returnflag, l.l_quantity, l.l_price_cents * (100 - l.l_discount_pct) AS rev,
         o.o_orderdate, o.o_orderpriority, c.c_mktsegment, n.n_name, n.n_regionkey
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  WHERE l.l_shipdate <= DATE '1997-12-31')
"""

ETL_REFERENCE = {
    "nation_year": ETL_JOINED + """
SELECT n_name, yr, rev, n, qty,
       sum(rev) OVER (PARTITION BY n_name ORDER BY yr ROWS UNBOUNDED PRECEDING)::BIGINT AS rev_running
FROM (SELECT n_name, year(o_orderdate) AS yr, sum(rev)::BIGINT AS rev, count(*) AS n, sum(l_quantity)::BIGINT AS qty
      FROM j GROUP BY 1, 2)""",
    "rollup": ETL_JOINED + """
SELECT n_regionkey, l_returnflag, sum(rev)::BIGINT AS rev, count(*) AS n FROM j GROUP BY ROLLUP (n_regionkey, l_returnflag)""",
    "segments": ETL_JOINED + """
SELECT 'segment' AS dim, c_mktsegment AS key, sum(rev)::BIGINT AS rev, count(*) AS n FROM j GROUP BY 2
UNION ALL
SELECT 'priority' AS dim, o_orderpriority AS key, sum(rev)::BIGINT AS rev, count(*) AS n FROM j GROUP BY 2""",
    # session windows of 30 minutes over the good events: an event more
    # than 1800 s after the user's previous one starts a new session (a
    # gap of exactly 1800 s still merges, as Spark's session windows do)
    "sessions": """
WITH e AS (SELECT user_id, event_id, ts, amount_cents,
                  CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) <= 1800
                       THEN 0 ELSE 1 END AS starts
           FROM truth WHERE status = 'good'),
s AS (SELECT *, sum(starts) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid FROM e)
SELECT user_id, min(ts) AS s_start, max(ts) + 1800 AS s_end, count(*) AS n, sum(amount_cents)::BIGINT AS v
FROM s GROUP BY user_id, sid""",
    "first_seen": """
SELECT user_id, event_type, ts, event_id, amount_cents
FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn
      FROM truth WHERE status = 'good')
WHERE rn = 1""",
    "good": """
SELECT event_id, ts, user_id, event_type, amount_cents, amount_cents * 3 AS fee_cents,
       CASE WHEN event_type = 'purchase' THEN true END AS is_purchase
FROM truth WHERE status = 'good'""",
}

# -- per-workload checks -------------------------------------------------------

def check_ops(con, run_dir, ops, outputs, reference):
    """Mark each op failed unless its outputs digest-equal the reference's.

    `reference(con, first_op_dir)` checks the first successful untraced
    op row by row and returns {output: error}. Returns per-run facts."""
    facts = {"check_errors": {}}
    done = [o for o in ops if o["ok"]]
    if not done:
        return facts
    first = next((o for o in done if not o["traced"]), done[0])
    first_dir = os.path.join(run_dir, "ops", str(first["i"]))
    errors = reference(con, first_dir)
    facts["check_errors"] = {k: v for k, v in errors.items() if v}
    want = [digest(con, scan(os.path.join(first_dir, name))) for name in outputs]
    for o in done:
        d = os.path.join(run_dir, "ops", str(o["i"]))
        o["digest"] = [digest(con, scan(os.path.join(d, name))) for name in outputs]
        if facts["check_errors"]:
            o["ok"], o["error"] = False, "output check: " + json.dumps(facts["check_errors"])[:300]
        elif o["digest"] != want:
            differ = [n for n, a, b in zip(outputs, o["digest"], want) if a != b]
            o["ok"], o["error"] = False, f"output check: {differ} differ from the first operation's"
    return facts


def check_etl_star(con, data, run_dir, ops, manifest):
    views(con, data, ["lineitem", "orders", "customer", "nation"])
    con.execute(f"CREATE OR REPLACE VIEW truth AS SELECT * FROM read_parquet('{data}/truth.parquet')")

    def reference(con, d):
        return {name: same_rows(con, scan(os.path.join(d, name)), sql) for name, sql in ETL_REFERENCE.items()}
    facts = check_ops(con, run_dir, ops, list(ETL_REFERENCE), reference)
    want_dead = manifest["injected_bad"]
    for o in ops:
        if not o["ok"]:
            continue
        dead = con.execute(f"SELECT count(*) FROM {scan(os.path.join(run_dir, 'ops', str(o['i']), 'dead'))}").fetchone()[0]
        o["dead_rows"] = int(dead)
        if dead != want_dead:
            o["ok"], o["error"] = False, f"output check: {dead} dead letters, {want_dead} bad lines injected"
    return facts


LLM_CHECK = """
WITH want AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
              FROM truth a JOIN truth b ON a.cluster = b.cluster AND a.doc_id < b.doc_id),
     got AS (SELECT least(doc_a, doc_b) AS doc_a, greatest(doc_a, doc_b) AS doc_b FROM pairs)
SELECT (SELECT count(*) FROM truth) AS documents,
       (SELECT count(*) FROM staged) AS staged,
       (SELECT count(*) FROM staged s SEMI JOIN truth t USING (doc_id)) AS staged_known,
       (SELECT count(*) FROM staged WHERE score IS NULL OR n_tokens IS NULL OR n_tokens <= 0) AS staged_bad,
       (SELECT count(*) FROM want) AS planted_pairs,
       (SELECT count(*) FROM got) AS pairs,
       (SELECT count(*) FROM (SELECT * FROM want EXCEPT SELECT * FROM got)) AS missed,
       (SELECT count(*) FROM (SELECT * FROM got EXCEPT SELECT * FROM want)) AS spurious"""


def check_llm_pretrain(con, data, run_dir, ops, manifest):
    """The generated corpus passes every page gate by construction and its
    only near-duplicates are the planted ones: every document must be
    staged, the candidate pairs must be exactly the pairs within planted
    clusters, and the packing plan must cover every emitted token once."""
    con.execute(f"CREATE OR REPLACE VIEW truth AS SELECT * FROM read_parquet('{data}/truth.parquet')")

    def reference(con, d):
        for name in ("staged", "pairs"):
            con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM {scan(os.path.join(d, name))}")
        r = {k: int(v) for k, v in con.execute(LLM_CHECK).df().iloc[0].to_dict().items()}
        errors = {}
        if not (r["staged"] == r["staged_known"] == r["documents"] and r["staged_bad"] == 0):
            errors["staged"] = "not every generated document was staged: " + json.dumps(r)
        if r["missed"] or r["spurious"] or r["pairs"] != r["planted_pairs"]:
            errors["pairs"] = "candidate pairs differ from the planted near-duplicates: " + json.dumps(r)
        packed = con.execute(f"SELECT coalesce(sum(doc_to - doc_from), 0) FROM {scan(os.path.join(d, 'packed'))}").fetchone()[0]
        tokens = con.execute(f"SELECT coalesce(sum(len(ids)), 0) FROM {scan(os.path.join(d, 'token_ids'))}").fetchone()[0]
        if packed != tokens:
            errors["packed"] = f"packed spans cover {packed} tokens of {tokens}"
        return errors
    return check_ops(con, run_dir, ops, ["staged", "pairs", "token_ids", "packed"], reference)


CHECKS = {"etl_star": check_etl_star, "llm_pretrain": check_llm_pretrain}


def check(workload, data, run_dir, ops, manifest):
    """Mark failed operations in `ops` (in place); returns facts for the report."""
    con = connect(os.path.join(run_dir, "duckdb_tmp"))
    try:
        return CHECKS[workload](con, data, run_dir, ops, manifest)
    finally:
        con.close()
