"""Correctness checks: the CDC target against an ordered-apply DuckDB
fold of the event log, the DLQ against the generator's count of bad
events, and registry row counts against each query's DuckDB oracle.

The fold is the reference's single-threaded ordered apply: every event
with a key becomes an action, a PK-changing update also deletes its
before-image key at the same seq, the snapshot seeds seq-0 upserts
(``id``, ``'s' || id``, ``id`` as double for ids below the snapshot
size), and the final state is the latest action per key, kept if it is
an upsert. The pipeline applies batches in log order, so latest-seq
wins equals its result.
"""

from __future__ import annotations

import os

import duckdb

FOLD_SQL = """
WITH ev AS (
  SELECT * FROM read_json('{pattern}', format='newline_delimited',
    columns={{op: 'VARCHAR', seq: 'BIGINT', key_json: 'VARCHAR',
             after_json: 'VARCHAR', before_key_json: 'VARCHAR'}})
), actions AS (
  SELECT CAST(json_extract(key_json, '$.id') AS BIGINT) AS id, seq,
         CASE WHEN op = 'delete' THEN 'delete' ELSE 'upsert' END AS act,
         json_extract_string(after_json, '$.name') AS name,
         CAST(json_extract(after_json, '$.balance') AS DOUBLE) AS balance
  FROM ev
  WHERE json_extract(key_json, '$.id') IS NOT NULL
    AND json_extract_string(key_json, '$.id') IS NOT NULL
  UNION ALL
  SELECT CAST(json_extract(before_key_json, '$.id') AS BIGINT), seq, 'delete', NULL, NULL
  FROM ev
  WHERE before_key_json IS NOT NULL
    AND json_extract(before_key_json, '$.id') IS DISTINCT FROM json_extract(key_json, '$.id')
  UNION ALL
  SELECT range, 0, 'upsert', 's' || range, CAST(range AS DOUBLE) FROM range({n_snapshot})
), latest AS (
  SELECT id, act, name, balance,
         ROW_NUMBER() OVER (PARTITION BY id ORDER BY seq DESC) AS rn
  FROM actions
)
SELECT id, name, balance FROM latest WHERE rn = 1 AND act = 'upsert'
"""


def check_target(
    spark,
    target_path: str,
    event_files: list[str],
    n_snapshot: int,
    out_dir: str,
    security_key: str | None = None,
) -> tuple[int, int]:
    """Compare the pipeline's target with the fold of ``event_files``.
    With ``security_key`` the target must hold ``name`` masked (one
    ``*`` per character) and ``balance`` AES-GCM encrypted; it is
    decrypted with ``decrypt_value`` before the compare.

    Returns (keys checked, keys wrong): a key is wrong if it is missing
    on either side or any column differs."""
    from pyspark.sql import functions as F

    from sync_spark.functions.security import decrypt_value
    from sync_spark.sources.bucketed import read_target

    got = read_target(spark, target_path).select("id", "name", "balance")
    if security_key is not None:
        got = got.withColumn("balance", decrypt_value(F.col("balance"), security_key).cast("double"))
    got_dir = os.path.join(out_dir, "target_readback")
    got.write.mode("overwrite").parquet(got_dir)

    con = duckdb.connect()
    try:
        link_dir = os.path.join(out_dir, "fold_input")
        os.makedirs(link_dir, exist_ok=True)
        for f in event_files:
            os.symlink(f, os.path.join(link_dir, os.path.basename(f)))
        con.execute(
            "CREATE TABLE want AS "
            + FOLD_SQL.format(pattern=os.path.join(link_dir, "*.jsonl"), n_snapshot=n_snapshot)
        )
        name_expr = "repeat('*', length(w.name))" if security_key is not None else "w.name"
        checked, wrong = con.execute(
            f"""
            SELECT count(*),
                   count(*) FILTER (WHERE g.id IS NULL OR w.id IS NULL
                     OR g.name IS DISTINCT FROM {name_expr}
                     OR g.balance IS DISTINCT FROM w.balance)
            FROM read_parquet('{got_dir}/*.parquet') g
            FULL OUTER JOIN want w ON g.id = w.id
            """
        ).fetchone()
    finally:
        con.close()
    return int(checked), int(wrong)


def oracle_row_counts(sf_dir: str, specs) -> dict[str, int]:
    """{query name: DuckDB row count of its oracle SQL} for the specs
    that carry one."""
    from sync_spark.testing import duckdb_conn

    con = duckdb_conn(sf_dir)
    try:
        return {
            s.name: con.execute(f"SELECT count(*) FROM ({s.oracle}) AS q").fetchone()[0]
            for s in specs
            if s.oracle
        }
    finally:
        con.close()
