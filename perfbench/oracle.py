"""Oracle checks, run after the timed region.

Each check recomputes the expected result in DuckDB from the same input
parquet the engine read, with the SQL of the engine's own driver gates
(``sonic_etl_spark.driver_queries``), and compares it with the engine's
output dumped to parquet, EXCEPT ALL in both directions.
"""

from __future__ import annotations

import duckdb

# columns the cdc_replay_converged driver gate compares
REPLAY_COLS = [
    "repo", "path", "commit", "lang", "content_sha256", "size_bytes",
    "last_offset", "last_partition_id",
]
VERDICT_COLS = ["doc_id", "off", "reason"]


def _glob(parquet_dir: str) -> str:
    return f"read_parquet('{parquet_dir}/*.parquet')"


# a row decodes iff it is neither class of SQL_QUARANTINE; CASE keeps
# json_extract away from malformed payloads
DECODABLE = """CASE WHEN json_valid(content_raw) THEN
    CAST(json_extract_string(content_raw, '$.size') AS UBIGINT)
    = octet_length(from_base64(regexp_replace(
        json_extract_string(content_raw, '$.content_b64'), '\\s', '', 'g')))
  ELSE false END"""


def replay_sql(log_dir: str) -> str:
    """``SQL_CDC_REPLAY`` over the decodable rows of ``log_dir``: the
    converged state that replay, and fan-out's ``source_code``, must reach
    (fan-out quarantines the other rows)."""
    from sonic_etl_spark import driver_queries as dq

    gate_scan = f"read_parquet('{dq.CDC_LOG_PATH}/*.parquet')"
    if gate_scan not in dq.SQL_CDC_REPLAY:
        raise RuntimeError("SQL_CDC_REPLAY no longer scans CDC_LOG_PATH; update the oracle")
    return dq.SQL_CDC_REPLAY.replace(
        gate_scan, f"(SELECT * FROM {_glob(log_dir)} WHERE {DECODABLE})")


def quarantine_sql(log_dir: str) -> str:
    """``SQL_QUARANTINE`` pointed at ``log_dir``."""
    from sonic_etl_spark import driver_queries as dq

    return dq.SQL_QUARANTINE.replace(dq.POISON_LOG_PATH, log_dir)


def curation_sql() -> str:
    """The ``incremental_curation`` gate SQL; reads a ``documents`` view."""
    from sonic_etl_spark import driver_queries as dq

    return dq._incr_curation_sql()


def diff_counts(con, expected_sql: str, actual_dir: str, cols: list[str]) -> tuple[int, int]:
    """(rows expected but missing, rows present but unexpected). Leaves the
    two sides in the temp tables ``expected`` and ``actual``."""
    sel = ", ".join(cols)
    con.execute(f"CREATE OR REPLACE TEMP TABLE expected AS SELECT {sel} FROM ({expected_sql})")
    con.execute(f"CREATE OR REPLACE TEMP TABLE actual AS SELECT {sel} FROM {_glob(actual_dir)}")
    missing = con.execute(
        "SELECT count(*) FROM (SELECT * FROM expected EXCEPT ALL SELECT * FROM actual)"
    ).fetchone()[0]
    extra = con.execute(
        "SELECT count(*) FROM (SELECT * FROM actual EXCEPT ALL SELECT * FROM expected)"
    ).fetchone()[0]
    return missing, extra


def check_replay(log_dir: str, actual_dir: str, keys: list[tuple[str, str]]) -> dict:
    """Converged ``source_code`` rows against the replay oracle, plus the
    oracle's (commit, last_offset) for each looked-up (repo, path) key;
    a key whose converged state is deleted maps to None."""
    with duckdb.connect() as con:
        missing, extra = diff_counts(con, replay_sql(log_dir), actual_dir, REPLAY_COLS)
        rows = con.execute("SELECT count(*) FROM actual").fetchone()[0]
        found = con.execute(
            "SELECT repo, path, commit, last_offset FROM expected "
            "WHERE (repo, path) IN (SELECT (unnest($1), unnest($2)))",
            [[k[0] for k in keys], [k[1] for k in keys]],
        ).fetchall()
    by_key = {(r[0], r[1]): (r[2], r[3]) for r in found}
    return {"ok": missing == 0 and extra == 0, "rows": rows, "missing": missing,
            "extra": extra, "lookups": {k: by_key.get(k) for k in keys}}


def check_quarantine(log_dir: str, actual: dict[str, int]) -> dict:
    """Quarantined rows per error class against the quarantine oracle."""
    with duckdb.connect() as con:
        expected = dict(con.execute(quarantine_sql(log_dir)).fetchall())
    return {"ok": expected == actual, "expected": expected, "actual": actual}


def check_curation(docs_dir: str, actual_dir: str, doc_ids: list[int]) -> dict:
    """Curator verdicts against the one-shot recompute of the same rule,
    plus the oracle's verdict for each looked-up doc id."""
    with duckdb.connect() as con:
        con.execute(f"CREATE VIEW documents AS SELECT doc_id, text FROM {_glob(docs_dir)}")
        missing, extra = diff_counts(con, curation_sql(), actual_dir, VERDICT_COLS)
        rows = con.execute("SELECT count(*) FROM actual").fetchone()[0]
        shares = dict(con.execute(
            "SELECT reason, count(*) / (SELECT count(*) FROM expected) "
            "FROM expected GROUP BY reason"
        ).fetchall())
        found = dict(con.execute(
            "SELECT doc_id, reason FROM expected WHERE doc_id IN (SELECT unnest($1))",
            [doc_ids],
        ).fetchall())
    return {"ok": missing == 0 and extra == 0, "rows": rows, "missing": missing,
            "extra": extra, "reason_shares": shares, "lookups": {d: found.get(d) for d in doc_ids}}


def hot_and_sampled_keys(log_dir: str, seed: int, n: int) -> list[tuple[str, str]]:
    """The log's most-updated (repo, path) plus ``n - 1`` seeded others."""
    import random

    with duckdb.connect() as con:
        counts = con.execute(
            f"SELECT repo, path, count(*) AS c FROM {_glob(log_dir)} "
            "GROUP BY 1, 2 ORDER BY c DESC, repo, path"
        ).fetchall()
    hot = (counts[0][0], counts[0][1])
    rest = sorted((r[0], r[1]) for r in counts[1:])
    return [hot, *random.Random(seed).sample(rest, min(n - 1, len(rest)))]
