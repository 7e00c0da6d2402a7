"""Seeded input generator for the benchmark.

Everything the program reads is made here, before any timing, from the
``--seed`` given on the command line: the star-schema tables the
registered queries scan (same names, columns and types as the test
tables the registry is written against), the NDJSON media library the
paper's pipeline ingests, and the events landing directory the streams
consume. The same seed always gives byte-identical inputs.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_DAY_US = 86_400_000_000
_EPOCH_1995_US = 788_918_400_000_000  # 1995-01-01T00:00:00Z
_EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _choice(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)], pa.string())


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), pa.timestamp("us"))


def tpch_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The star-schema tables the benchmark's queries read, at scale factor
    ``sf`` (lineitem ~6M*sf rows)."""
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_ev, n_users = int(1_500_000 * sf), int(1_000_000 * sf), max(int(15_000 * sf), 10)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS})
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _choice(rng, _SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": _choice(rng, names, n_part),
            "p_brand": _choice(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
            "p_type": _choice(rng, _PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
        }
    )
    order_day = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": _choice(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _ts(_EPOCH_1995_US + order_day * _DAY_US),
            "o_orderpriority": _choice(rng, _PRIORITIES, n_ord),
        }
    )
    lines = rng.integers(1, 8, n_ord)
    l_order = np.repeat(np.arange(n_ord), lines)
    n_li = len(l_order)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(l_order, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(np.arange(n_li) - starts + 1, pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": _choice(rng, ["A", "N", "R"], n_li),
            "l_linestatus": _choice(rng, ["F", "O"], n_li),
            "l_shipdate": _ts(_EPOCH_1995_US + (order_day[l_order] + rng.integers(1, 122, n_li)) * _DAY_US),
        }
    )
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": _ts(_EPOCH_2024_US + np.sort(rng.integers(0, 30 * _DAY_US, n_ev))),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
            "event_type": _choice(rng, _EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": _choice(rng, [f'{{"k": {k}}}' for k in range(100)], n_ev),
        }
    )
    return t


def write_tpch(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the tables as ``<out_dir>/<name>.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in tpch_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts


def write_landing(events: pa.Table, out_dir: str, seed: int, n_files: int) -> None:
    """Split ``events`` into ``n_files`` parquet files of seeded sizes.

    The files are consecutive event-time slices, named in time order, so
    the file source reads them oldest first and no row ever arrives
    behind the watermark: every stream's result then equals the batch
    result over the same events.
    """
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    inner = np.sort(rng.choice(np.arange(1, events.num_rows), n_files - 1, replace=False))
    bounds = [0, *inner.tolist(), events.num_rows]
    for i in range(n_files):
        pq.write_table(
            events.slice(bounds[i], bounds[i + 1] - bounds[i]), os.path.join(out_dir, f"part-{i:03d}.parquet")
        )


# ---------------------------------------------------------------------------
# media library (NDJSON, the 29-field raw record of schemas.MEDIA_RAW_SCHEMA)
# ---------------------------------------------------------------------------

_GENRES = ["Trip-Hop", "Alternative", "Classical", "Indie Rock", "Ambient", "Folk", "Blues Rock", "default"]
_EXTS = [".mp3", ".m4a", ".flac", ".wma"]
_ENCODERS = ["LAME 3.100", "LAME 3.99", "iTunes 12.9", "FLAC 1.3.2", "qaac 2.72\r", "WMA 9.2", ""]
_ENCODINGS = ["ascii", "Windows-1252", "ISO-8859-9"]
#: Names the offline ID map knows (sources/offline_ids.py) plus the
#: canned-query parameters, so the enrichment and Q1-Q5 select real rows.
_KNOWN_ARTISTS = ["Velvet Harbor", "Quiet Atlas", "Marta Jelinek", "Ólafur Brekka", "Ash & The Riverbed"]
_KNOWN_ALBUMS = ["First Light", "Night Ferry", "Meridian Lines", "Fjara"]
_KNOWN_TRACKS = ["Future Proof", "Glass Orchard", "Creek Bed", "Mudlark"]
_SYLLABLES = ["ka", "lo", "mi", "ra", "ne", "to", "su", "vi", "den", "mar", "sol", "ber"]

#: Invalid-row kinds, each failing exactly one clause of
#: etl.media.validity_condition.
_INVALID_KINDS = ("no_artist", "no_index", "rating", "track_number", "file_size")


def _names(rng: np.random.Generator, n: int, parts: int) -> np.ndarray:
    syl = np.asarray(_SYLLABLES, dtype=object)
    words = [syl[rng.integers(0, len(syl), n)] + syl[rng.integers(0, len(syl), n)] for _ in range(parts)]
    out = np.asarray([w.capitalize() for w in words[0]], dtype=object)
    for w in words[1:]:
        out = out + " " + np.asarray([x.capitalize() for x in w], dtype=object)
    return out


def write_media_library(
    out_dir: str, seed: int, n_rows: int, n_files: int, invalid_every: int, known_rows: int
) -> dict:
    """Write ``n_rows`` NDJSON media records over ``n_files`` files.

    Every ``invalid_every``-th row is made invalid in one of five ways.
    ``known_rows`` seeded valid rows carry names the offline ID map
    knows; every other name is made up, so exactly ``known_rows`` rows
    get an artist ID. ``album_gain`` is a JSON string on even rows and a
    JSON number on odd rows, as in the reference extract. Returns the
    known counts the pipeline's outputs are checked against.
    """
    import pandas as pd

    rng = np.random.default_rng([seed, 3])
    os.makedirs(out_dir, exist_ok=True)
    n = n_rows
    artists = np.concatenate([np.asarray(_KNOWN_ARTISTS, dtype=object), _names(rng, max(n // 20, 10), 2)])
    albums = np.concatenate([np.asarray(_KNOWN_ALBUMS, dtype=object), _names(rng, max(n // 10, 10), 2)])
    tracks = np.concatenate([np.asarray(_KNOWN_TRACKS, dtype=object), _names(rng, max(n // 2, 10), 3)])
    idx = np.arange(n)
    invalid = idx[invalid_every - 1 :: invalid_every]
    # made-up names only, then the known names on seeded valid rows, the
    # j-th of them taking the j-th name of each list (cyclically), so the
    # canned queries' parameters (the lists' first names) all select rows
    ai = rng.integers(len(_KNOWN_ARTISTS), len(artists), n)
    bi = rng.integers(len(_KNOWN_ALBUMS), len(albums), n)
    ti = rng.integers(len(_KNOWN_TRACKS), len(tracks), n)
    known = np.sort(rng.choice(np.setdiff1d(idx, invalid), known_rows, replace=False))
    j = np.arange(known_rows)
    ai[known] = j % len(_KNOWN_ARTISTS)
    bi[known] = j % len(_KNOWN_ALBUMS)
    ti[known] = j % len(_KNOWN_TRACKS)
    size = rng.integers(2_000_000, 60_000_000, n)
    gain = np.round(rng.uniform(-12.0, 0.0, n), 2)
    seconds = rng.integers(90, 900, n)
    ext = np.asarray(_EXTS, dtype=object)[rng.integers(0, len(_EXTS), n)]
    genre = rng.integers(0, len(_GENRES), n)
    index = np.char.zfill((idx + 1).astype(str), 6).astype(object)
    modified = pd.to_datetime(_EPOCH_2024_US - rng.integers(0, 3000 * _DAY_US, n), unit="us")
    hashes = rng.integers(0, 2**63, (n, 4))
    df = pd.DataFrame(
        {
            "index": index,
            "file_size": size,
            "readable_size": [f"{b / 1048576:.2f} MiB" for b in size],
            "file_ext": ext,
            "artist_name": artists[ai],
            "album_title": albums[bi],
            "track_title": tracks[ti],
            "track_number": rng.integers(1, 20, n).astype(str).astype(object),
            "track_length": [f"0:{t // 60:02d}:{t % 60:02d}" for t in seconds],
            "music_genre": np.asarray(_GENRES, dtype=object)[genre],
            "genre_in_dict": np.where(genre < 7, "GENRE_OK", "INCONSISTENT").astype(object),
            "album_art": np.where(idx % 7 == 0, "MISSING_ART", "ALBUM_ART").astype(object),
            "year": rng.integers(1960, 2024, n).astype(str).astype(object),
            "rating": rng.integers(0, 11, n) / 2.0,
            "encoder": np.asarray(_ENCODERS, dtype=object)[rng.integers(0, len(_ENCODERS), n)],
            "composer": np.where(idx % 3 == 0, artists[ai], "").astype(object),
            "conductor": "",
            "comment": "",
            "track_gain": [f"{g:.2f}" for g in np.round(rng.uniform(-12.0, 0.0, n), 2)],
            "album_gain": np.where(idx % 2 == 0, np.asarray([f"{g:.2f}" for g in gain], dtype=object), gain.astype(object)),
            "bitrate": rng.choice([128000, 192000, 256000, 320000], n),
            "sampling_rate": rng.choice([44100, 48000], n),
            "file_name": index + ext,
            "path_len": rng.integers(60, 250, n).astype(str).astype(object),
            "last_modified": modified.strftime("%Y-%m-%d %H:%M:%S.%f"),
            "encoding": np.asarray(_ENCODINGS, dtype=object)[rng.integers(0, len(_ENCODINGS), n)],
            "hash": ["".join(f"{int(h):016x}" for h in row) for row in hashes],
            "artist_id": "",
            "album_id": "",
            "track_id": "",
        }
    )
    kinds = {}
    for k, kind in enumerate(_INVALID_KINDS):
        rows = invalid[k :: len(_INVALID_KINDS)]
        kinds[kind] = len(rows)
        column, value = {
            "no_artist": ("artist_name", None),
            "no_index": ("index", None),
            "rating": ("rating", 7.5),
            "track_number": ("track_number", "-3"),
            "file_size": ("file_size", -1),
        }[kind]
        df.loc[rows, column] = value
    bounds = np.linspace(0, n, n_files + 1).astype(int)
    for f in range(n_files):
        path = os.path.join(out_dir, f"library-{f:02d}.json")
        df.iloc[bounds[f] : bounds[f + 1]].to_json(path, orient="records", lines=True, force_ascii=False)
    return {
        "rows": n,
        "valid": n - len(invalid),
        "invalid": len(invalid),
        "invalid_kinds": kinds,
        "known": known_rows,
        "bytes": sum(os.path.getsize(os.path.join(out_dir, f)) for f in os.listdir(out_dir)),
        "files": n_files,
    }
