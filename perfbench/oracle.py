"""Output oracle: recomputes what a job must write, with DuckDB, from the
generated input parquet alone, and compares a job's outputs against it.

The expectation is every (part, constraint_id) verdict -- total rows and
violation count -- for the row rules, uniqueness, the FK check and both drift
checks, plus the total number of violation rows. None of it runs through
Spark or graft code, so a wrong job output cannot also be a wrong oracle.
"""

import glob
import os

import duckdb

VOCAB = 50000
MAX_LEN = 128
ENUM = ("web", "books", "code", "wiki")
KL_THRESHOLD = 0.05
SMOOTHING = 0.5
NTOK_BUCKET_WIDTH = 8.0


def _parquet(path):
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning = true)"


# One boolean column per row rule: TRUE when the row violates it.
# Typed input (doc_id, tokens, n_tok, source); mirrors the spec in
# graft.data.SequenceGen.SeqSpecJson plus the n_tok = size(tokens) rule.
TYPED_RULES = {
    "./required:doc_id": "doc_id IS NULL",
    "./required:tokens": "tokens IS NULL",
    "./required:n_tok": "n_tok IS NULL",
    "./required:source": "source IS NULL",
    ".doc_id/minLength": "length(doc_id) < 1",
    ".doc_id/pattern": "NOT regexp_full_match(doc_id, 'doc-[0-9]{12}')",
    ".tokens/items": f"len(list_filter(tokens, x -> x IS NULL OR x < 0 OR x >= {VOCAB})) > 0",
    ".tokens/minItems": "len(tokens) < 1",
    ".tokens/maxItems": f"len(tokens) > {MAX_LEN}",
    ".n_tok/minimum": "n_tok < 1",
    ".n_tok/maximum": f"n_tok > {MAX_LEN}",
    ".source/enum": f"source NOT IN {ENUM}",
    "dataset/consistency:n_tok=size(tokens)": "NOT coalesce(n_tok = len(tokens), false)",
}


def _json_rules():
    """Row rules over the `json` text column, with the runtime-type gates of
    dynamic-JSON validation: a keyword applies only to values of its type."""
    def exists(k):
        return f"(json_extract(json, '$.{k}') IS NOT NULL)"

    def jtype(k):
        return f"json_type(json, '$.{k}')"

    def is_type(k, *types):
        return f"({jtype(k)} IN ({', '.join(repr(t) for t in types)}))"

    num = ("BIGINT", "UBIGINT", "DOUBLE")
    nval = "json_extract(json, '$.n_tok')::DOUBLE"
    doc = "json_extract_string(json, '$.doc_id')"
    bad_item = (f"json_type(x) NOT IN ('BIGINT', 'UBIGINT') OR x::DOUBLE < 0 "
                f"OR x::DOUBLE >= {VOCAB}")
    rules = {"./type:object": "json_type(json) <> 'OBJECT'"}
    for k in ("doc_id", "tokens", "n_tok", "source"):
        rules[f"./required:{k}"] = f"NOT {exists(k)}"
    rules.update({
        ".doc_id/type:string": f"{exists('doc_id')} AND NOT {is_type('doc_id', 'VARCHAR')}",
        ".doc_id/minLength": f"{is_type('doc_id', 'VARCHAR')} AND length({doc}) < 1",
        ".doc_id/pattern": f"{is_type('doc_id', 'VARCHAR')} AND "
                           f"NOT regexp_full_match({doc}, 'doc-[0-9]{{12}}')",
        ".tokens/type:array": f"{exists('tokens')} AND NOT {is_type('tokens', 'ARRAY')}",
        ".tokens/items": f"{is_type('tokens', 'ARRAY')} AND len(list_filter("
                         f"json_extract(json, '$.tokens[*]'), x -> {bad_item})) > 0",
        ".tokens/minItems": f"{is_type('tokens', 'ARRAY')} AND "
                            f"json_array_length(json, '$.tokens') < 1",
        ".tokens/maxItems": f"{is_type('tokens', 'ARRAY')} AND "
                            f"json_array_length(json, '$.tokens') > {MAX_LEN}",
        ".n_tok/type:number": f"{exists('n_tok')} AND NOT {is_type('n_tok', *num)}",
        ".n_tok/type:integer": f"{is_type('n_tok', *num)} AND {nval} <> floor({nval})",
        ".n_tok/minimum": f"{is_type('n_tok', *num)} AND {nval} < 1",
        ".n_tok/maximum": f"{is_type('n_tok', *num)} AND {nval} > {MAX_LEN}",
        ".source/type:string": f"{exists('source')} AND NOT {is_type('source', 'VARCHAR')}",
        ".source/enum": f"{exists('source')} AND NOT ({is_type('source', 'VARCHAR')} AND "
                        f"json_extract_string(json, '$.source') IN {ENUM})",
    })
    return rules


def _rules_sql(rules, table):
    cols = ",\n".join(f"coalesce({expr}, false) AS \"{cid}\"" for cid, expr in rules.items())
    return f"SELECT part, doc_id, {cols} FROM {table}"


def _drift(con, table, column, bucket_expr):
    """Per-part KL of `column`'s bucketed histogram against the mix of all
    validated partitions, with the same smoothing and the same treatment of
    a NULL bucket (its own global bucket that never matches a partition's
    cell) as the job."""
    rows = con.sql(f"""
      WITH h AS (SELECT part, {bucket_expr} AS bucket, count(*) AS c
                 FROM {table} GROUP BY ALL),
           t AS (SELECT part, sum(c) AS t FROM h GROUP BY part),
           b AS (SELECT bucket, sum(c) AS bc FROM h GROUP BY bucket),
           bt AS (SELECT sum(bc) AS bt, count(*) AS k FROM b),
           g AS (SELECT t.part, t.t, b.bucket, b.bc, bt.bt, bt.k,
                        coalesce(h.c, 0) AS c
                 FROM t CROSS JOIN b CROSS JOIN bt
                 LEFT JOIN h ON h.part = t.part AND h.bucket = b.bucket),
           pq AS (SELECT part, t,
                         (c + {SMOOTHING}) / (t + {SMOOTHING} * k) AS p,
                         (bc + {SMOOTHING}) / (bt + {SMOOTHING} * k) AS q FROM g)
      SELECT part, any_value(t), sum(p * ln(p / q)) FROM pq GROUP BY part""").fetchall()
    return {part: (int(t), 1 if kl > KL_THRESHOLD else 0) for part, t, kl in rows}


def expected(data, workload):
    """{"verdicts": {"part|constraint_id": [total, violations]},
    "violation_rows": n, "exit": code, "rows": validated rows}."""
    con = duckdb.connect()
    con.sql("SET threads = 2")
    con.sql("SET enable_progress_bar = false")
    src = _parquet(os.path.join(data, "input"))
    if workload == "submit_incremental":
        last = con.sql(f"SELECT max(part) FROM {src}").fetchone()[0]
        con.sql(f"CREATE TEMP TABLE v AS SELECT * FROM {src} WHERE part = '{last}'")
    else:
        con.sql(f"CREATE TEMP TABLE v AS SELECT * FROM {src}")
    verdicts = {}
    rules = _json_rules() if workload == "json_runtime" else TYPED_RULES
    con.sql(f"CREATE TEMP TABLE r AS {_rules_sql(rules, 'v')}")
    dataset = {}
    if workload != "json_runtime":
        dim = _parquet(os.path.join(data, "dim"))
        dataset = {
            "dataset/unique:doc_id": """doc_id IS NOT NULL AND
                count(*) OVER (PARTITION BY doc_id) > 1""",
            "dataset/referential:source": f"""source IS NOT NULL AND
                source NOT IN (SELECT source FROM {dim} WHERE source IS NOT NULL)""",
        }
    totals = dict(con.sql("SELECT part, count(*) FROM v GROUP BY part").fetchall())
    sums = ", ".join(f"sum(\"{cid}\"::INT)::BIGINT" for cid in rules)
    vio_rows = 0
    for row in con.sql(f"SELECT part, {sums} FROM r GROUP BY part").fetchall():
        part = row[0]
        for cid, n in zip(rules, row[1:]):
            verdicts[f"{part}|{cid}"] = [totals[part], int(n)]
            vio_rows += int(n)
    if dataset:
        cols = ", ".join(f"({expr}) AS \"{cid}\"" for cid, expr in dataset.items())
        sums = ", ".join(f"sum(\"{cid}\"::INT)::BIGINT" for cid in dataset)
        rows = con.sql(f"""SELECT part, {sums} FROM (SELECT part, {cols} FROM v)
                           GROUP BY part""").fetchall()
        for row in rows:
            for cid, n in zip(dataset, row[1:]):
                verdicts[f"{row[0]}|{cid}"] = [totals[row[0]], int(n)]
                vio_rows += int(n)
        buckets = {
            "n_tok": f"floor(n_tok::DOUBLE / {NTOK_BUCKET_WIDTH})::BIGINT::VARCHAR",
            "source": "source",
        }
        for name, expr in buckets.items():
            for part, (t, fail) in _drift(con, "v", name, expr).items():
                verdicts[f"{part}|dataset/drift:{name}"] = [t, fail]
                vio_rows += fail
    failing = any(v[1] > 0 for v in verdicts.values())
    exit_code = 1 if failing and workload != "json_runtime" else 0
    return {"verdicts": verdicts, "violation_rows": vio_rows, "exit": exit_code,
            "rows": sum(totals.values())}


def check(out, exp):
    """Compares one job's written outputs with the expectation; returns a
    list of mismatches (empty when the job is correct)."""
    problems = []
    if not glob.glob(os.path.join(out, "verdicts", "**", "*.parquet"), recursive=True):
        return [f"no verdicts written under {out}"]
    con = duckdb.connect()
    con.sql("SET threads = 2")
    con.sql("SET enable_progress_bar = false")
    got = {f"{p}|{c}": [int(t), int(v)] for p, c, t, v in con.sql(f"""
        SELECT part, constraint_id, sum(total)::BIGINT, sum(violations)::BIGINT
        FROM {_parquet(os.path.join(out, 'verdicts'))} GROUP BY ALL""").fetchall()}
    want = exp["verdicts"]
    for key in sorted(set(want) | set(got)):
        if want.get(key) != got.get(key):
            problems.append(f"verdict {key}: expected {want.get(key)}, got {got.get(key)}")
    vio = os.path.join(out, "violations")
    n = 0
    if glob.glob(os.path.join(vio, "**", "*.parquet"), recursive=True):
        n = con.sql(f"SELECT count(*) FROM {_parquet(vio)}").fetchone()[0]
    if n != exp["violation_rows"]:
        problems.append(f"violation rows: expected {exp['violation_rows']}, got {n}")
    return problems
