"""Workload inputs: one seeded Phabricator world, written to parquet.

The world comes from ``phab_fixtures.generate`` with every size argument
multiplied by the workload's scale. ``generate`` is handed a stand-in for
the SparkSession that captures each table's rows and schema instead of
building a pickled-RDD DataFrame; the rows go to parquet through pyarrow, and
both the Spark runner and the DuckDB oracle read those same bytes back.
"""

from __future__ import annotations

import hashlib
import math
import os
import time
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

from phabricator_etl_spark.plans import etl_e2e, phab_queries
from phabricator_etl_spark.sources import phab_fixtures

# Gate-fixture sizes; a workload multiplies all four.
BASE_SIZES = {"n_users": 40, "n_projects": 12, "n_repos": 8, "n_revisions": 120}

# The generator spaces revisions MONTH // 17 seconds apart, so a world of
# scale m spans about 0.59 * m years. Above 12x every timestamp is mapped
# onto this span (about 7 years), which keeps the ym partition count of the
# revisions table near 85 at any scale instead of growing with it.
SPAN_S = 7 * 365 * 86_400
TIMESTAMP_COLUMNS = ("dateCreated", "dateModified")

_ARROW_TYPES = {"long": pa.int64(), "string": pa.string(), "boolean": pa.bool_()}


class _CaptureSession:
    """Takes the place of the SparkSession in ``generate``: keeps each
    table's rows and schema instead of building a DataFrame."""

    def createDataFrame(self, rows, schema):  # noqa: N802 - SparkSession's name
        return list(rows), schema


def generate_tables(seed: int, scale: int) -> dict[str, tuple[list[tuple], object]]:
    """Table name -> (rows, StructType), straight from the fixture generator."""
    sizes = {k: v * scale for k, v in BASE_SIZES.items()}
    world = phab_fixtures.generate(_CaptureSession(), seed=seed, **sizes)
    return dict(world.__dict__)


def _timestamp_positions(schema) -> list[int]:
    return [i for i, f in enumerate(schema.fields) if f.name in TIMESTAMP_COLUMNS]


def timestamp_range(tables) -> tuple[int, int]:
    values = [
        row[i]
        for rows, schema in tables.values()
        for row in rows
        for i in _timestamp_positions(schema)
        if row[i] is not None
    ]
    return min(values), max(values)


def compress_timestamps(tables, span: int = SPAN_S):
    """Map every timestamp column of every table onto [lo, lo + span] with
    one affine map, so the order of any two timestamps in the world is kept
    (equal values stay equal; values closer than the scale factor may become
    equal). Worlds that already fit the span are returned unchanged."""
    lo, hi = timestamp_range(tables)
    if hi - lo <= span:
        return tables
    factor = span / (hi - lo)

    def remap(row, positions):
        row = list(row)
        for i in positions:
            if row[i] is not None:
                row[i] = lo + math.floor((row[i] - lo) * factor)
        return tuple(row)

    out = {}
    for name, (rows, schema) in tables.items():
        positions = _timestamp_positions(schema)
        out[name] = ([remap(r, positions) for r in rows] if positions else rows, schema)
    return out


def fingerprint(tables) -> dict:
    """Per-table row counts and one sha256 over every row of every table, in
    table-name order. Two results are comparable only if these agree."""
    digest = hashlib.sha256()
    rows_by_table = {}
    for name in sorted(tables):
        rows, _ = tables[name]
        rows_by_table[name] = len(rows)
        digest.update(name.encode())
        digest.update(repr(rows).encode())
    return {"rows": rows_by_table, "sha256": digest.hexdigest()}


def write_parquet(tables, world_dir: str) -> None:
    for name, (rows, schema) in tables.items():
        columns = list(zip(*rows)) if rows else [() for _ in schema.fields]
        arrow_schema = pa.schema(
            [(f.name, _ARROW_TYPES[f.dataType.typeName()]) for f in schema.fields]
        )
        table = pa.table(
            [pa.array(col, type=arrow_schema.field(i).type) for i, col in enumerate(columns)],
            schema=arrow_schema,
        )
        os.makedirs(os.path.join(world_dir, name), exist_ok=True)
        pq.write_table(table, os.path.join(world_dir, name, "part-00000.parquet"))


def rewrite_fixture_paths(sql: str, old_dir: str, new_dir: str) -> str:
    """Point SQL that scans ``'<old_dir>/<table>/*.parquet'`` at new_dir.
    Raises if the SQL scans nothing under old_dir or still names it after
    the rewrite (a path form this function does not know)."""
    if "'" in new_dir:
        raise ValueError(f"directory {new_dir!r} cannot be quoted in SQL")
    needle = f"'{old_dir}/"
    if needle not in sql:
        raise ValueError(f"oracle SQL scans nothing under {old_dir}")
    out = sql.replace(needle, f"'{new_dir}/")
    if old_dir in out:
        raise ValueError(f"oracle SQL names {old_dir} in an unexpected form")
    return out


def oracle_summary(world_dir: str, threads: int) -> list[tuple]:
    """The final-table summary of a full run over world_dir, computed by
    DuckDB from the repo's e2e oracle SQL (etl_e2e._e2e_oracle)."""
    import duckdb

    sql = rewrite_fixture_paths(etl_e2e._e2e_oracle(), phab_queries.FIXTURE_DIR, world_dir)
    con = duckdb.connect()
    try:
        con.execute(f"SET threads = {threads}")
        return [tuple(r) for r in con.execute(sql).fetchall()]
    finally:
        con.close()


@dataclass
class World:
    directory: str
    fingerprint: dict
    now: int  # run-window end: one second after the newest timestamp
    revisions: int
    revision_modified: list[int]  # dateModified of every revision
    oracle: list[tuple]
    schemas: dict  # table name -> StructType
    timings: dict  # wall seconds of each set-up step


def build(seed: int, scale: int, world_dir: str, threads: int) -> World:
    """Generate, compress, check, write and summarize one world."""
    timings = {}
    t = time.perf_counter()
    tables = generate_tables(seed, scale)
    timings["generate_s"] = time.perf_counter() - t

    t = time.perf_counter()
    tables = compress_timestamps(tables)
    _, newest = timestamp_range(tables)
    now = newest + 1
    rows, schema = tables["revision"]
    names = schema.names
    created, modified = names.index("dateCreated"), names.index("dateModified")
    # The runner keeps revisions with dateCreated < now OR dateModified < now;
    # a world that pokes out of that window would be silently cut down.
    inside = sum(1 for r in rows if r[created] < now or r[modified] < now)
    if inside != len(rows) or len(rows) != BASE_SIZES["n_revisions"] * scale:
        raise RuntimeError(f"only {inside} of {len(rows)} revisions lie inside the run window")
    fp = fingerprint(tables)
    write_parquet(tables, world_dir)
    timings["write_s"] = time.perf_counter() - t

    t = time.perf_counter()
    oracle = oracle_summary(world_dir, threads)
    timings["oracle_s"] = time.perf_counter() - t
    schemas = {name: schema for name, (_, schema) in tables.items()}
    return World(world_dir, fp, now, len(rows), [r[modified] for r in rows], oracle, schemas, timings)


def read_sources(spark, world: World) -> phab_fixtures.PhabSources:
    """The world's tables as parquet scans, with the generator's schemas
    given so that no read has to infer one."""
    return phab_fixtures.PhabSources(
        **{
            name: spark.read.schema(world.schemas[name]).parquet(os.path.join(world.directory, name))
            for name in phab_fixtures.PhabSources.__dataclass_fields__
        }
    )
