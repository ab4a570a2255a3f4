"""Independent correctness oracles, computed in DuckDB.

Change-log oracle: last-writer-wins over the generated changelog parquet,
with malformed payloads and null-key rows left out (the engine
quarantines those). It never calls the engine. All checks here are
untimed.

Query oracle: each suite query's ``oracle_sql()`` run on the same input
tables, compared after the normalisation of
``tests/test_driver_contract.py``.
"""

from __future__ import annotations

import math

import duckdb


class ChangeLogOracle:
    """LWW state of the changelog after any applied prefix of epochs."""

    def __init__(self, changelog_dir: str):
        self.con = duckdb.connect()
        # the engine's corrupt test: a non-null payload that is not a JSON object
        self.con.execute(f"""
            CREATE TABLE ev AS
            SELECT repo, path, op, "commit", commit_seq, event_seq, CAST(epoch AS BIGINT) AS epoch,
                   payload_json,
                   payload_json IS NOT NULL AND NOT (json_valid(payload_json)
                       AND ltrim(payload_json) LIKE '{{%') AS malformed
            FROM read_parquet('{changelog_dir}/*/*.parquet', hive_partitioning = true)""")
        self.con.execute("""
            CREATE TABLE clean AS
            SELECT * EXCLUDE (malformed) FROM ev
            WHERE NOT malformed AND repo IS NOT NULL AND path IS NOT NULL AND op IS NOT NULL""")

    def _state_sql(self, last_epoch: int) -> str:
        return f"""
            SELECT repo, path, "commit", sha256(json_extract_string(payload_json, '$.content')) AS sha
            FROM (SELECT *, row_number() OVER (PARTITION BY repo, path
                                              ORDER BY commit_seq DESC, event_seq DESC) AS rn
                  FROM clean WHERE epoch <= {int(last_epoch)})
            WHERE rn = 1 AND op <> 'D'"""

    def state(self, last_epoch: int) -> dict[tuple[str, str], tuple[str, str]]:
        """{(repo, path): (commit, sha256(content))} of live keys."""
        rows = self.con.execute(self._state_sql(last_epoch)).fetchall()
        return {(r, p): (c, s) for r, p, c, s in rows}

    def malformed(self, last_epoch: int) -> int:
        return self.con.execute(
            f"SELECT count(*) FROM ev WHERE malformed AND epoch <= {int(last_epoch)}").fetchone()[0]

    def group_counts(self, last_epoch: int, col: str) -> dict[str, int]:
        rows = self.con.execute(
            f"SELECT {col}, count(*) FROM ({self._state_sql(last_epoch)}) GROUP BY {col}").fetchall()
        return dict(rows)

    def keys(self) -> list[tuple[str, str, bool]]:
        """Every key in the log with whether its final LWW op is a delete."""
        return self.con.execute("""
            SELECT repo, path, op = 'D' FROM (
              SELECT repo, path, op, row_number() OVER (PARTITION BY repo, path
                                     ORDER BY commit_seq DESC, event_seq DESC) AS rn
              FROM clean) WHERE rn = 1 ORDER BY repo, path""").fetchall()

    def close(self) -> None:
        self.con.close()


def _norm_cell(v):
    """Type-tagged cell normalisation, as in tests/test_driver_contract.py:
    an int 1 and a float 1.0 must not compare equal."""
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "∅"
        return f"f:{round(v, 9)}"
    if isinstance(v, int) or type(v).__name__.startswith(("int", "uint")):
        return f"i:{int(v)}"
    return f"{type(v).__name__}:{v}"


def _norm_pdf(pdf) -> list[tuple]:
    """Rows with their cells in column-name order. The cells come from
    ``pdf.values``, as ``iterrows`` gives them, without its per-row Series."""
    cols = list(pdf.columns)
    order = sorted(range(len(cols)), key=cols.__getitem__)
    return sorted(tuple(_norm_cell(row[j]) for j in order) for row in pdf.values)


def query_mismatch(spark_df, con, sql: str) -> str | None:
    """None when the Spark result equals the oracle's, else the first difference."""
    s_cols = spark_df.columns
    s_pdf = spark_df.toPandas()
    res = con.execute(sql)
    d_cols = [d[0] for d in res.description]
    d_pdf = res.fetchdf()
    if sorted(s_cols) != sorted(d_cols):
        return f"columns {sorted(s_cols)} vs {sorted(d_cols)}"
    if len(s_pdf) != len(d_pdf):
        return f"row count {len(s_pdf)} vs {len(d_pdf)}"
    for a, b in zip(_norm_pdf(s_pdf), _norm_pdf(d_pdf)):
        if a != b:
            return f"first value mismatch {a} vs {b}"
    return None
