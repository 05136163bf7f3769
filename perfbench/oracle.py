"""Independent answers the benchmark checks the engine against.

Ingest: last-writer-wins over the same WAL parquet, computed in DuckDB, as
a row count plus an order-independent digest of
``(repo, path, seq, sha256(content))`` — the BASELINE per-row invariant.
Queries: each query's ``oracle_sql()`` twin on DuckDB, compared with the
repository's own correctness-gate rules (``scripts/check_oracles.py``).
"""

from __future__ import annotations

import importlib.util
import os

ROW_SEP = "\x1f"


def _digest(hexes) -> int:
    """Order-independent digest: sum of the 64-bit row-hash prefixes."""
    return sum(int(h[:16], 16) for h in hexes) % (1 << 64)


def lww_oracle(wal_glob: str, seq_hi: int) -> tuple[int, int]:
    """(live rows, digest) of the LWW state of the shredded-WAL events with
    ``seq < seq_hi``; ties on seq break by commit, as the engine."""
    import duckdb

    sql = f"""
        select sha256(concat_ws('{ROW_SEP}', repo, path, cast(seq as varchar), sha256(content)))
        from (
            select repo, path, seq, op, payload.content as content,
                   row_number() over (partition by repo, path order by seq desc, "commit" desc) rn
            from read_parquet('{wal_glob}')
            where seq < {int(seq_hi)}
        ) where rn = 1 and op <> 'delete'
    """
    con = duckdb.connect()
    try:
        con.execute("set threads to 2")
        hexes = [r[0] for r in con.execute(sql).fetchall()]
    finally:
        con.close()
    return len(hexes), _digest(hexes)


def batch_winners_oracle(wal_glob: str, bounds: list[tuple[int, int]]) -> int:
    """Rows a merge-on-read table holds in delta files for the given batch
    windows: one within-batch LWW winner per key per batch, tombstones
    included."""
    import duckdb

    union = " union all ".join(
        f"select count(distinct (repo, path)) n from read_parquet('{wal_glob}') "
        f"where seq >= {int(lo)} and seq < {int(hi)}"
        for lo, hi in bounds
    )
    con = duckdb.connect()
    try:
        return int(con.execute(f"select sum(n) from ({union})").fetchone()[0])
    finally:
        con.close()


def table_digest(df) -> tuple[int, int]:
    """(rows, digest) of an engine state DataFrame, same recipe as the oracle."""
    from pyspark.sql import functions as F

    h = F.sha2(
        F.concat_ws(ROW_SEP, "repo", "path", F.col("seq").cast("string"), F.sha2("content", 256)),
        256,
    )
    hexes = df.select(h.alias("h")).toPandas()["h"].tolist()
    return len(hexes), _digest(hexes)


def _gate_module(repo_root: str):
    path = os.path.join(repo_root, "scripts", "check_oracles.py")
    spec = importlib.util.spec_from_file_location("_check_oracles", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class QueryOracle:
    """DuckDB views over one data directory plus the repo's frame comparison."""

    def __init__(self, repo_root: str, data_dir: str, oracle_sql: dict):
        import duckdb

        self._gate = _gate_module(repo_root)
        self.sql = oracle_sql
        self.con = duckdb.connect()
        self.con.execute("set threads to 2")
        for t in self._gate.TABLES:
            p = os.path.join(data_dir, f"{t}.parquet")
            if os.path.exists(p):
                self.con.execute(f"create view {t} as select * from read_parquet('{p}')")

    def matches(self, name: str, spark_pdf) -> bool:
        odf = self.con.execute(self.sql[name]).df()
        return self._gate.frame_key(spark_pdf) == self._gate.frame_key(odf)

    def close(self) -> None:
        self.con.close()
