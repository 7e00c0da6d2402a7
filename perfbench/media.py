"""``media-etl``: the paper's pipeline 1, with its fuzzy and streaming twins.

One client runs the pass in a fixed order:

1. ``write_warehouse(enrich_offline_ids(split_valid(conform(read_media_json(...)))))``
   over the generated NDJSON library into a fresh directory, with
   ``observe_quality`` counting rows and rejects on the way;
2. the quarantined rows through ``sinks.save_debug_json``;
3. the warehouse read back once and the canned queries Q1-Q5 and Q8
   over it;
4. the registered ``media_q06_gain_select`` / ``media_q07_join_select``
   on the 12-row fixture (see README.md for why not on the library);
5. the J3 fuzzy top-1 ``q30_fuzzy_ratio_top1`` (pandas UDF scoring);
6. the ``streaming.ops`` transform ``windowed_agg`` as an AvailableNow
   stream over a landing directory of event files, one file per
   micro-batch, collected through ``run_to_memory``.

This is the only workload that writes, runs Python UDFs and runs
micro-batches; it shares no input across passes (every pass re-reads the
library and writes a new warehouse).
"""

from __future__ import annotations

import os
import random

import gen
import pyarrow.parquet as pq
from check import duckdb_for, oracle_digest
from core import CheckFailed
from ops import collect, expect_digest, query_op

CLIENTS = 1
LIBRARY_ROWS = 25_000
LIBRARY_FILES = 8
#: The traffic mix of the 200,000-row library the pipeline was sized on:
#: 166,639 valid rows (33,361 invalid, 1 in 6.0) and 40 valid rows whose
#: artist the offline ID map knows (1 in 4,166).
INVALID_EVERY = 6  # every 6th record is invalid, in one of five ways
KNOWN_ROWS = round((LIBRARY_ROWS - LIBRARY_ROWS // INVALID_EVERY) * 40 / 166_639)  # 5 at 25,000 rows
STAR_SF = 0.02  # q30's part x supplier pairs and the events the streams read
STREAM_FILES = 3
OPS_PER_PASS = 13

#: Canned queries over the read-back warehouse, with the registry's own
#: parameters (operators/canned.py ``_MEDIA_QUERIES``).
_CANNED = {
    "media_q01_artist_select": lambda c, t: c.artist_select(t, ["Velvet Harbor"]),
    "media_q02_album_select": lambda c, t: _dbl(c.album_select(t, ["First Light"]), "album_gain"),
    "media_q03_track_select": lambda c, t: _dbl(c.track_select(t, ["Future Proof"]), "rating"),
    "media_q04_genre_select": lambda c, t: c.genre_select(t, ["Trip-Hop", "Alternative"]),
    "media_q05_file_select": lambda c, t: c.file_select(t, ".flac"),
    "media_q08_avg_size_select": lambda c, t: c.avg_size_select(t),
}
_FIXTURE_QUERIES = ("media_q06_gain_select", "media_q07_join_select")


def _dbl(df, col: str):
    from pyspark.sql import functions as F

    return df.withColumn(col, F.col(col).cast("double"))


def _read_json_call(sql: str, start: int) -> int:
    """End index (exclusive) of the ``read_json(...)`` call starting at ``start``."""
    depth, quoted = 0, False
    for i in range(start, len(sql)):
        ch = sql[i]
        if ch == "'":
            quoted = not quoted
        elif not quoted and ch == "(":
            depth += 1
        elif not quoted and ch == ")":
            depth -= 1
            if depth == 0:
                return i + 1
    raise ValueError("unterminated read_json call in oracle SQL")


def _canned_oracles(lib_glob: str) -> dict[str, tuple[int, str]]:
    """Digests of the canned queries: the registry's media oracles with the
    fixture scan pointed at the library, which is materialized once."""
    import duckdb
    from spotify_tags_etl_spark.operators.canned import FIXTURE_PATH
    from spotify_tags_etl_spark.plans import registry

    con = duckdb.connect()
    try:
        out = {}
        for name in _CANNED:
            sql = registry.get(name).oracle
            start = sql.index(f"read_json('{FIXTURE_PATH}'")
            call = sql[start : _read_json_call(sql, start)]
            if not out:
                con.execute(f"CREATE TABLE media_raw AS SELECT * FROM {call.replace(FIXTURE_PATH, lib_glob)}")
            out[name] = oracle_digest(con, sql.replace(call, "media_raw"))
        return out
    finally:
        con.close()


def prepare(run_dir: str, seed: int) -> dict:
    from spotify_tags_etl_spark.plans import registry

    lib_dir = os.path.join(run_dir, "library")
    library = gen.write_media_library(lib_dir, seed, LIBRARY_ROWS, LIBRARY_FILES, INVALID_EVERY, KNOWN_ROWS)
    lib_glob = os.path.join(lib_dir, "*.json")
    sf_dir = os.path.join(run_dir, "tpch")
    counts = gen.write_tpch(sf_dir, seed, STAR_SF)
    landing = os.path.join(run_dir, "landing")
    gen.write_landing(pq.read_table(os.path.join(sf_dir, "events.parquet")), landing, seed, STREAM_FILES)
    expected = _canned_oracles(lib_glob)
    con = duckdb_for(sf_dir)
    try:
        for name in (*_FIXTURE_QUERIES, "q30_fuzzy_ratio_top1", "st01_stream_windowed_agg"):
            expected[name] = oracle_digest(con, registry.get(name).oracle)
    finally:
        con.close()
    return {
        "library": library,
        "lib_glob": lib_glob,
        "sf_dir": sf_dir,
        "landing": landing,
        "expected": expected,
        "sizes": {
            "library_rows": LIBRARY_ROWS,
            "library_bytes": library["bytes"],
            "library_invalid": library["invalid"],
            "library_known": library["known"],
            "star_sf": STAR_SF,
            "events": counts["events"],
            "stream_files": STREAM_FILES,
        },
    }


def setup(ctx) -> None:
    """Session-side preparation: the landing directory's schema."""
    ctx.events_schema = ctx.spark.read.parquet(os.path.join(ctx.inputs["landing"], "part-000.parquet")).schema


def _events_stream(ctx):
    from spotify_tags_etl_spark.sources.tpch import normalize_events_ts

    reader = ctx.spark.readStream.schema(ctx.events_schema).option("maxFilesPerTrigger", 1)
    return normalize_events_ts(reader.parquet(ctx.inputs["landing"]))


def _parquet_rows(path: str) -> int:
    return sum(
        pq.ParquetFile(os.path.join(path, f)).metadata.num_rows for f in os.listdir(path) if f.endswith(".parquet")
    )


def _tree_size(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``."""
    size = files = 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                size += os.path.getsize(os.path.join(dirpath, n))
                files += 1
    return size, files


def pass_ops(ctx, rng: random.Random) -> list:
    from spotify_tags_etl_spark import sinks
    from spotify_tags_etl_spark.etl import media as etl
    from spotify_tags_etl_spark.operators import canned
    from spotify_tags_etl_spark.plans import registry
    from spotify_tags_etl_spark.schemas import WAREHOUSE_TABLES
    from spotify_tags_etl_spark.sources.offline_ids import NOT_FOUND
    from spotify_tags_etl_spark.streaming import ops as streaming

    spark, rec, inputs, expected = ctx.spark, ctx.rec, ctx.inputs, ctx.inputs["expected"]
    library = inputs["library"]
    pass_id = rng.getrandbits(32)
    out_dir = os.path.join(ctx.run_dir, "warehouse", f"{pass_id:08x}")
    debug_root = os.path.join(ctx.run_dir, "debug", f"{pass_id:08x}")
    state: dict = {}

    def write():
        with rec.span("etl", "write_warehouse"):
            conformed = etl.conform(etl.read_media_json(spark, inputs["lib_glob"]))
            observed, obs = etl.observe_quality(conformed)
            valid, _ = etl.split_valid(observed)
            state["quarantined"] = etl.split_valid(conformed)[1]
            etl.write_warehouse(etl.enrich_offline_ids(spark, valid), out_dir)
            return obs.get

    def check_write(observed) -> None:
        rows = {t: _parquet_rows(os.path.join(out_dir, t)) for t in WAREHOUSE_TABLES}
        want = {t: library["valid"] for t in WAREHOUSE_TABLES}
        ids = pq.read_table(os.path.join(out_dir, "artist"), columns=["artist_id"]).column(0).to_pylist()
        found = sum(1 for i in ids if i != NOT_FOUND)
        if (
            observed["n_rows"] != library["rows"]
            or observed["n_invalid"] != library["invalid"]
            or rows != want
            or found != library["known"]
        ):
            raise CheckFailed(
                f"write_warehouse: observed {observed}, table rows {rows}, {found} artist IDs found; "
                f"generated {library['rows']} rows, {library['invalid']} invalid, {library['valid']} valid, "
                f"{library['known']} known artists"
            )
        if rec.trace:
            size, files = _tree_size(out_dir)
            rec.add_counter("etl.records_in", observed["n_rows"])
            rec.add_counter("etl.records_quarantined", observed["n_invalid"])
            rec.add_counter("etl.bytes_written", size)
            rec.add_counter("etl.files_written", files)
            rec.add_counter("etl.bytes_in", library["bytes"])

    def debug():
        with rec.span("sinks", "save_debug_json"):
            return sinks.save_debug_json(state["quarantined"], debug_root, "media_quarantine")

    def check_debug(path: str) -> None:
        lines = 0
        for n in os.listdir(path):
            if n.endswith(".json"):
                with open(os.path.join(path, n), encoding="utf-8") as fh:
                    lines += sum(1 for _ in fh)
        if lines != library["invalid"]:
            raise CheckFailed(f"save_debug_json: {lines} quarantined rows written, generated {library['invalid']}")
        if rec.trace:
            rec.add_counter("sinks.bytes_written", _tree_size(path)[0])

    def read_back():
        with rec.span("operators.build", "read_warehouse"):
            state["tables"] = {t: spark.read.parquet(os.path.join(out_dir, t)) for t in WAREHOUSE_TABLES}
        return state["tables"]

    def check_read_back(tables) -> None:
        cols = {t: tables[t].columns for t in WAREHOUSE_TABLES}
        if cols != WAREHOUSE_TABLES:
            raise CheckFailed(f"read_warehouse: columns {cols}, expected {WAREHOUSE_TABLES}")

    def windowed():
        with rec.span("streaming", "windowed_agg"):
            df = streaming.run_to_memory(streaming.windowed_agg(_events_stream(ctx)), "complete")
        return collect(ctx, "stream_windowed_agg", df)

    ops = [("write_warehouse", write, check_write), ("save_debug_json", debug, check_debug)]
    ops.append(("read_warehouse", read_back, check_read_back))
    ops += [query_op(ctx, q, lambda b=b: b(canned, state["tables"]), expected[q]) for q, b in _CANNED.items()]
    ops += [
        query_op(ctx, q, lambda b=registry.get(q).builder: b(spark, inputs["sf_dir"]), expected[q])
        for q in (*_FIXTURE_QUERIES, "q30_fuzzy_ratio_top1")
    ]
    # the windowed result must equal st01's batch oracle over the same events
    check_digest = expect_digest("stream_windowed_agg", expected["st01_stream_windowed_agg"])

    def check_windowed(pdf) -> None:
        if ctx.progress is not None:
            ctx.progress.claim(rec.current_op)
        check_digest(pdf)

    ops.append(("stream_windowed_agg", windowed, check_windowed))
    assert len(ops) == OPS_PER_PASS
    return ops


def warm_lanes(ops: list) -> list[list]:
    """The warm pass on three threads: the write and what reads what it
    wrote; the two fixture queries; q30 and the stream."""
    return [ops[:9], ops[9:11], ops[11:]]


def traced_extras(ctx) -> dict[str, float]:
    """Direct calls into ``functions.text`` on q30's name pairs."""
    import time

    from spotify_tags_etl_spark.functions.text import indel_ratio, normalize_text

    sf_dir = ctx.inputs["sf_dir"]
    parts = pq.read_table(os.path.join(sf_dir, "part.parquet"), columns=["p_partkey", "p_name"]).to_pydict()
    names = [n for k, n in zip(parts["p_partkey"], parts["p_name"]) if k % 200 == 0]
    suppliers = pq.read_table(os.path.join(sf_dir, "supplier.parquet"), columns=["s_name"]).column(0).to_pylist()
    pairs = [(a, b) for a in names for b in suppliers]
    with ctx.rec.span("functions", "normalize_text"):
        t = time.perf_counter()
        normed = [(normalize_text(a), normalize_text(b)) for a, b in pairs]
        normalize_s = time.perf_counter() - t
    with ctx.rec.span("functions", "indel_ratio"):
        t = time.perf_counter()
        for a, b in normed:
            indel_ratio(a, b)
        ratio_s = time.perf_counter() - t
    return {
        "functions.normalize_text_us_per_row": normalize_s / (2 * len(pairs)) * 1e6,
        "functions.indel_ratio_us_per_pair": ratio_s / len(pairs) * 1e6,
    }

