"""Seeded inputs for the benchmark.

Two generators, both pure functions of ``(seed, size)``:

* :func:`write_tables` writes the ten parquet tables the query registry
  reads (the TPC-H-like star schema plus ``events``, ``documents`` and
  ``embeddings``), with the column names, types, value domains and
  row counts per scale factor of the repository's test data. The seed
  changes values, never row counts.
* :func:`feed_version_zip` writes one version of the synthetic GTFS feed
  (``sources.synth_feed.synth_feed_files``). Each ``(seed, version)``
  shifts stop and shape coordinates, renames headsigns and sets the
  feed version string, so every version has a new digest while the row
  anatomy (every table's row count, hence every derived relation's row
  count) stays identical.
"""

from __future__ import annotations

import os
import random
import zipfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from postgis_gtfs_importer_spark.sources.synth_feed import synth_feed_files

_MKT = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_COLORS = ["blue", "old", "large", "hot", "cold", "small", "new", "red"]
_NOUNS = ["widget", "gizmo", "bolt", "plate", "rod", "anvil", "ring", "gear"]
_PTYPES = ["SMALL", "MEDIUM", "LARGE", "ECONOMY", "STANDARD", "PROMO"]
_PRIO = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENTS = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join"
    " key line merge order part query row scan slow small sort spark stream"
    " table the value vector window"
).split()
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

_DAY_US = 86_400_000_000
_EPOCH_1995 = 9131  # days from 1970-01-01 to 1995-01-01


def _ts(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype(np.int64) * _DAY_US, type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def table_sizes(sf: float) -> dict[str, int]:
    """Row counts per table at scale factor ``sf`` (test-data anatomy)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": int(150_000 * sf),
        "supplier": int(10_000 * sf),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = table_sizes(sf)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc, dtype=np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": np.array(_MKT)[rng.integers(0, 5, nc)],
    })
    ns = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns, dtype=np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    np_ = n["part"]
    t["part"] = pa.table({
        "p_partkey": np.arange(np_, dtype=np.int64),
        "p_name": np.char.add(
            np.char.add(np.array(_COLORS)[rng.integers(0, 8, np_)], " "),
            np.array(_NOUNS)[rng.integers(0, 8, np_)],
        ),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, np_).astype(str)),
        "p_type": np.array(_PTYPES)[rng.integers(0, 6, np_)],
        "p_size": rng.integers(1, 51, np_, dtype=np.int32),
        "p_retailprice": np.round(900.0 + rng.integers(0, 1000, np_) * 0.1, 1),
    })
    no = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no, dtype=np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2404, no)),
        "o_orderpriority": np.array(_PRIO)[rng.integers(0, 5, no)],
    })
    nl = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, no, nl, dtype=np.int64),
        "l_partkey": rng.integers(0, np_, nl, dtype=np.int64),
        "l_suppkey": rng.integers(0, ns, nl, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, nl, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": _ts(_EPOCH_1995 + 1 + rng.integers(0, 2498, nl)),
    })
    ne = n["events"]
    t["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": pa.array(
            np.sort(rng.integers(0, 30 * _DAY_US, ne)) + 19723 * _DAY_US,
            type=pa.timestamp("us"),
        ),
        "user_id": rng.integers(0, max(1, int(15_000 * sf)), ne, dtype=np.int64),
        "event_type": np.array(_EVENTS)[rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    nd = n["documents"]
    words = np.array(_WORDS)
    texts = [
        " ".join(words[rng.integers(0, len(words), k)])
        for k in rng.integers(10, 101, nd)
    ]
    # near-duplicates: every 50th document repeats its predecessor with
    # one token replaced, so the dedup and LSH entries find real pairs
    for i in range(1, nd, 50):
        toks = texts[i - 1].split()
        toks[int(rng.integers(0, len(toks)))] = "dup"
        texts[i] = " ".join(toks)
    t["documents"] = pa.table({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": np.array(_LANGS)[rng.integers(0, len(_LANGS), nd)],
        "source": np.char.add("src", rng.integers(0, 20, nd).astype(str)),
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })
    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv, dtype=np.int32)
    centroids = rng.normal(0.0, 1.0, (10, 64))
    vecs = centroids[labels] * 0.5 + rng.normal(0.0, 1.0, (nv, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": labels,
    })
    return t


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the ten tables as ``<out_dir>/<name>.parquet``; returns the
    row count of each."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in _tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts


def feed_version_files(seed: int, version: int, scale: float) -> dict[str, str]:
    """The synthetic feed with content, not volume, varied by
    ``(seed, version)``: stop and shape coordinates get a seeded offset,
    trip headsigns a seeded suffix, and the feed_info version string
    names the version. Row counts and keys never change."""
    rng = random.Random(f"{seed}/{version}")
    files = synth_feed_files(scale)
    dlat, dlon = rng.uniform(-0.05, 0.05), rng.uniform(-0.05, 0.05)

    def shift_stops(line: str) -> str:
        f = line.split(",")
        f[3] = f"{float(f[3]) + dlat:.6f}"
        f[4] = f"{float(f[4]) + dlon:.6f}"
        return ",".join(f)

    def shift_shapes(line: str) -> str:
        f = line.split(",")
        f[1] = f"{float(f[1]) + dlat:.6f}"
        f[2] = f"{float(f[2]) + dlon:.6f}"
        return ",".join(f)

    headsign = f"Via {rng.randrange(10_000)}"

    def retitle(line: str) -> str:
        f = line.split(",")
        f[3] = f"{f[3]} {headsign}"
        return ",".join(f)

    def edit(name: str, fn) -> None:
        head, *rows = files[name].rstrip("\n").split("\n")
        files[name] = "\n".join([head, *map(fn, rows)]) + "\n"

    edit("stops.txt", shift_stops)
    edit("shapes.txt", shift_shapes)
    edit("trips.txt", retitle)
    files["feed_info.txt"] = files["feed_info.txt"].replace(
        ",v1", f",s{seed}v{version}"
    )
    return files


def feed_version_zip(zip_path: str, seed: int, version: int, scale: float) -> str:
    """Write version ``version`` of the seeded feed as a GTFS zip."""
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as z:
        for fname, content in feed_version_files(seed, version, scale).items():
            z.writestr(fname, content)
    return zip_path
