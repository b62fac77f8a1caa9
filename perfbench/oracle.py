"""Output checks against the DuckDB oracles the package already ships.

Every table is reduced to an order-independent fingerprint: the row
count and the sum of a 64-bit hash of each row, with every column cast
to VARCHAR first so that an INT-vs-BIGINT difference between the
engines cannot make equal values hash differently. Two tables agree
when their column names, counts and hash sums agree.
"""

from __future__ import annotations

import os

import duckdb

from roadgrinder_spark import datagen
from roadgrinder_spark.operators import roadgrinder as rg
from roadgrinder_spark.spatial import join as sj

#: the four grind outputs the pipeline writes under its output directory
GRIND_TABLES = ("GeocodeRoads", "AtlNamesRoads", "AtlNamesAddrPnts", "Matches")
#: geocode_match's default (no-detail) columns, as the streaming sink writes them
STREAM_COLS = ("point_id", "road_gid", "side")


def with_ctes(body: str, *ctes: str) -> str:
    parts = [c.strip().strip(",") for c in ctes if c.strip().strip(",")]
    return "WITH " + ", ".join(parts) + " " + body.strip()


def oracle_sql(geocode_radius_m: float) -> dict[str, str]:
    """Oracle SQL per checked table (the grind outputs and the union of
    streamed matches), over `orders` and `lineitem`."""
    r, p, s, c = (
        datagen.ROADS_CTE,
        datagen.ADDRPNTS_CTE,
        rg.SCRATCH_CTE,
        rg.ADDRPNT_CAND_CTE,
    )
    # oracle_geocode_match_sql emits "cte AS (...), ...\nSELECT ...":
    # appended as the last CTE it carries its own final SELECT
    return {
        "GeocodeRoads": with_ctes(rg.ORACLE_GEOCODE_ROADS, r, s),
        "AtlNamesRoads": with_ctes(rg.ORACLE_ALTNAMES_ROADS, r, s),
        "AtlNamesAddrPnts": with_ctes(rg.ORACLE_ALTNAMES_ADDRPNTS, p, c),
        "Matches": with_ctes(
            "", r, p, s, sj.oracle_geocode_match_sql(geocode_radius_m, detail=True)
        ),
        "StreamMatches": with_ctes(
            "", r, p, s, sj.oracle_geocode_match_sql(geocode_radius_m, detail=False)
        ),
    }


def fingerprint(con: duckdb.DuckDBPyConnection, relation_sql: str) -> tuple:
    """(sorted column names, row count, hash sum) of a relation."""
    cols = sorted(
        r[0] for r in con.execute(f"DESCRIBE SELECT * FROM ({relation_sql})").fetchall()
    )
    row = ", ".join(f'CAST("{c}" AS VARCHAR)' for c in cols)
    n, h = con.execute(
        f"SELECT count(*), CAST(coalesce(sum(hash({row})), 0) AS VARCHAR) "
        f"FROM ({relation_sql})"
    ).fetchone()
    return tuple(cols), int(n), h


def parquet_sql(path: str, cols: tuple[str, ...] | None = None) -> str:
    """Relation over a Spark-written parquet directory (any depth)."""
    sel = ", ".join(f'"{c}"' for c in cols) if cols else "*"
    glob = os.path.join(path, "**", "*.parquet")
    return f"SELECT {sel} FROM read_parquet('{glob}', hive_partitioning = false)"


class Oracle:
    """DuckDB connection over one run's generated inputs."""

    def __init__(self, inputs_dir: str, tmp_dir: str, threads: int):
        self.con = duckdb.connect()
        self.con.execute(f"SET threads = {int(threads)}")
        self.con.execute("SET memory_limit = '2GB'")
        self.con.execute(f"SET temp_directory = '{tmp_dir}'")
        for t in datagen.SOURCE_TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{os.path.join(inputs_dir, t + '.parquet')}')"
            )

    def expected(self, names, geocode_radius_m: float) -> dict[str, tuple]:
        sql = oracle_sql(geocode_radius_m)
        return {n: fingerprint(self.con, sql[n]) for n in names}

    def grind_mismatches(self, out_dir: str, expected: dict[str, tuple]) -> list[str]:
        """Names of the grind outputs under out_dir that differ from the oracle."""
        return [
            n
            for n in GRIND_TABLES
            if fingerprint(self.con, parquet_sql(os.path.join(out_dir, n))) != expected[n]
        ]

    def close(self) -> None:
        self.con.close()
