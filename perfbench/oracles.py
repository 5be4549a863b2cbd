"""Independent DuckDB recomputations of every checked output.

Each expected result is computed once per input, outside any timed
region, then compared with what the library wrote for each operation.
The comparisons return the number of mismatching rows (0 = correct).
"""

from __future__ import annotations

import duckdb

#: mark_slim's statistical thresholds (operators/marking.py)
MAD_SCALE, MAD_THRESHOLD, Z_THRESHOLD = 0.6745, 3.5, 3.0
VOCAB_SIZE = 50_257
ROW_COUNT_MARK = "__row_count__"


def connect(tmp_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads = 4")
    con.execute("SET memory_limit = '2GB'")
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    return con


def _count(con, sql: str) -> int:
    return int(con.execute(sql).fetchone()[0] or 0)


def fingerprint(con, glob: str) -> str:
    """Order-independent content hash of a token table."""
    row = con.execute(
        "SELECT count(*), sum(hash(doc_id, tokens, n_tok, source, part)"
        f"::HUGEINT) FROM read_parquet('{glob}')").fetchone()
    return f"{row[0]}:{row[1]}"


# ---------------------------------------------------------------- suite_batch

def expect_suite(con, tokens_glob: str) -> None:
    """Expected verdicts: the board's ``validate_tokens`` oracle SQL,
    pointed at the benchmark's own input."""
    import __spark_entry__ as E

    sql = E.oracle_sql()["validate_tokens"]
    board_input = f"{E.SCRATCH}/validate_tokens_input/*.parquet"
    if board_input not in sql:
        raise RuntimeError("validate_tokens oracle no longer reads its input "
                           "table by the expected path")
    sql = sql.replace(board_input, tokens_glob)
    con.execute(f"CREATE OR REPLACE TABLE exp_verdicts AS {sql}")


def check_suite(con, out_dir: str) -> int:
    """Mismatching verdict rows, plus 1 if the violation sink's row count
    differs from the expected total."""
    bad = _count(con, f"""
        SELECT count(*) FROM exp_verdicts e
        FULL OUTER JOIN read_parquet('{out_dir}/verdicts/*.parquet') v
          USING (part, check_name)
        WHERE e.status IS DISTINCT FROM v.status
           OR e.violation_count IS DISTINCT FROM v.violation_count
           OR e.row_count IS DISTINCT FROM v.row_count
           OR e.metric IS NULL OR v.metric IS NULL
           OR abs(e.metric - v.metric) > 1e-12""")
    want = _count(con, "SELECT sum(violation_count) FROM exp_verdicts")
    got = _count(con, f"""
        SELECT count(*) FROM read_parquet('{out_dir}/violations/*.parquet')
        WHERE check_name <> '{ROW_COUNT_MARK}'""")
    return bad + (want != got)


# -------------------------------------------------------------- stream_ingest

def expect_stream(con, backlog_dir: str, stats, allowed: list[str],
                  mu: float, inv: float, threshold: float) -> None:
    """Per-file expected violation counts per check, scored rows and
    alert rows, from the same fitted literals the stream was given."""
    lo, hi = stats.tukey_bounds
    srcs = ", ".join(f"'{s}'" for s in allowed)
    mad_flag = (
        f"abs({MAD_SCALE!r}::DOUBLE * (n_tok - {stats.median_n_tok!r}::DOUBLE)"
        f" / {stats.mad_n_tok!r}::DOUBLE) > {MAD_THRESHOLD!r}"
        if stats.mad_n_tok > 0 else "false")
    z_flag = (
        f"abs((n_tok - {stats.mean_n_tok!r}::DOUBLE) / {stats.std_n_tok!r}::DOUBLE)"
        f" > {Z_THRESHOLD!r}" if stats.std_n_tok > 0 else "false")
    d = f"(n_tok::DOUBLE - {mu!r}::DOUBLE)"
    score = f"sqrt(greatest({d} * {d} * {inv!r}::DOUBLE, 0.0))"
    con.execute(f"""
        CREATE OR REPLACE TABLE exp_stream AS
        WITH fl AS (
          SELECT parse_filename(filename) AS file,
            (doc_id IS NULL)::INT AS null_doc_id,
            (coalesce(len(tokens), -1) <> coalesce(n_tok, -1))::INT AS len_mismatch,
            (len(tokens) > 0 AND (list_min(tokens) < 0
              OR list_max(tokens) >= {VOCAB_SIZE}))::INT AS token_oob,
            (len(tokens) = 0)::INT AS empty_tokens,
            (n_tok < {lo!r}::DOUBLE OR n_tok > {hi!r}::DOUBLE)::INT AS ntok_tukey,
            ({mad_flag})::INT AS ntok_mad,
            ({z_flag})::INT AS ntok_z,
            (source IS NOT NULL AND source NOT IN ({srcs}))::INT AS ref_source,
            ({score} > {threshold!r}::DOUBLE)::INT AS alert
          FROM read_parquet('{backlog_dir}/*.parquet', filename = true))
        UNPIVOT (
          SELECT file, count(*) AS scored, sum(alert) AS alerts,
                 sum(null_doc_id) AS null_doc_id, sum(len_mismatch) AS len_mismatch,
                 sum(token_oob) AS token_oob, sum(empty_tokens) AS empty_tokens,
                 sum(ntok_tukey) AS ntok_tukey, sum(ntok_mad) AS ntok_mad,
                 sum(ntok_z) AS ntok_z, sum(ref_source) AS ref_source
          FROM fl GROUP BY file)
        ON COLUMNS(* EXCLUDE (file)) INTO NAME check_name VALUE n""")


def check_stream(con, out_dir: str, files: list[str]) -> list[int]:
    """Mismatching (check, count) rows per micro-batch; batch k is
    expected to have read ``files[k]``."""
    con.execute("CREATE OR REPLACE TEMP TABLE batch_file AS "
                "SELECT * FROM (VALUES "
                + ", ".join(f"({k}, '{f}')" for k, f in enumerate(files))
                + ") t(ingest_batch, file)")
    got = f"""
        SELECT ingest_batch, check_name, sum(violation_count) AS n
        FROM read_parquet('{out_dir}/verdicts/*/*.parquet', hive_partitioning = true)
        GROUP BY ALL
        UNION ALL
        SELECT ingest_batch, 'scored', count(*)
        FROM read_parquet('{out_dir}/scored/*/*.parquet', hive_partitioning = true)
        GROUP BY ALL
        UNION ALL
        SELECT b.ingest_batch, 'alerts', count(a.ingest_batch) FROM batch_file b
        LEFT JOIN read_parquet('{out_dir}/alerts/*/*.parquet', hive_partitioning = true) a
          USING (ingest_batch)
        GROUP BY ALL"""
    rows = con.execute(f"""
        WITH want AS (SELECT b.ingest_batch, e.check_name, e.n
                      FROM exp_stream e JOIN batch_file b USING (file)),
             got AS ({got})
        SELECT coalesce(w.ingest_batch, g.ingest_batch) AS b, count(*)
        FROM want w FULL OUTER JOIN got g USING (ingest_batch, check_name)
        WHERE w.n IS DISTINCT FROM g.n
        GROUP BY 1""").fetchall()
    bad = dict.fromkeys(range(len(files)), 0)
    for b, n in rows:
        bad[int(b)] = bad.get(int(b), 0) + int(n)
    return [bad[b] for b in sorted(bad)]


# --------------------------------------------------------------------- curate

def expect_curate(con, tokens_glob: str, feature_cols, key_cols,
                  max_exemplars: int) -> None:
    """Expected HS-mass per key (``hs_oracle_sql`` over the same
    features) and exact-duplicate groups as (dup_count, sorted doc_ids),
    grouped on the token list itself rather than any hash of it."""
    from autoprepad_spark.operators.isoforest import hs_oracle_sql

    con.execute(f"""
        CREATE OR REPLACE VIEW feat AS
        SELECT part, doc_id, n_tok, list_min(tokens) AS tmin,
               list_max(tokens) AS tmax
        FROM read_parquet('{tokens_glob}') WHERE doc_id IS NOT NULL""")
    con.execute("CREATE OR REPLACE TABLE exp_hs AS "
                + hs_oracle_sql("feat", list(feature_cols), list(key_cols)))
    # exemplars: the first max_exemplars rows by doc_id (nulls first), of
    # which the non-null ids are kept, sorted
    con.execute(f"""
        CREATE OR REPLACE TABLE exp_dups AS
        SELECT count(*) AS dup_count,
               array_to_string(list_sort(list_filter(
                 list(doc_id ORDER BY doc_id ASC NULLS FIRST)[1:{max_exemplars}],
                 x -> x IS NOT NULL)), '|') AS ids
        FROM read_parquet('{tokens_glob}')
        GROUP BY tokens HAVING count(*) > 1""")


def check_curate(con, out_dir: str) -> int:
    hs = _count(con, f"""
        SELECT count(*) FROM exp_hs e
        FULL OUTER JOIN read_parquet('{out_dir}/hs/*.parquet') g
          USING (part, doc_id)
        WHERE e.total_mass IS DISTINCT FROM g.total_mass""")
    dups = _count(con, f"""
        WITH g AS (SELECT dup_count, array_to_string(doc_ids, '|') AS ids,
                          count(*) AS c
                   FROM read_parquet('{out_dir}/dups/*.parquet') GROUP BY ALL),
             e AS (SELECT dup_count, ids, count(*) AS c FROM exp_dups GROUP BY ALL)
        SELECT count(*) FROM e FULL OUTER JOIN g USING (dup_count, ids)
        WHERE e.c IS DISTINCT FROM g.c""")
    return hs + dups
