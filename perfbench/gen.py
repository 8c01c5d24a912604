"""Seeded input generators for the benchmark.

Every input is a pure function of the seed: the same seed gives a
byte-identical fsimage, the same namespace table and the same query data.
The tree always has the same shape (the JMH layout of the reference
generator, scaled by files per directory); the seed moves only values —
file sizes, owners, times — so the work per op is the same across seeds.
"""

from __future__ import annotations

import math
import os
import random
import string

ROOT_ID = 16385  # HDFS root inode id
BLOCK_SIZE = 128 * 1024 * 1024
SMALL_LIMIT = 2 * 1024 * 1024  # the small-files report's default limit
EPOCH_2015_MS = 1420070400000
YEAR_MS = 365 * 24 * 3600 * 1000

# the JMH tree: 26 top dirs, each with WIDTH child dirs per level down to
# DEPTH, so 807 dirs with the root
DEPTH, WIDTH = 5, 2
FILES_PER_DIR = 10  # the benchmark's size: 8,060 files (the JMH dataset has 260)
N_ORDERS, N_DOCS = 15000, 500  # driver-query tables

USERS = [f"user{i:02d}" for i in range(12)]
GROUPS = ["hadoop", "analytics", "etl", "ml", "ops"]


def _zipf_weights(n: int, s: float = 1.2) -> list[float]:
    return [1.0 / (i + 1) ** s for i in range(n)]


def namespace_rows(seed: int, files_per_dir: int = FILES_PER_DIR) -> list[dict]:
    """Raw inode dicts (the fsimage decoder's shape, plus ``full_path``)
    for the JMH tree with ``files_per_dir`` files in every non-root dir;
    at 260 files per dir that is its 209,560 files. Sizes are log-spread from 1 B
    to ~8 GiB, so they straddle the 2 MiB small-file limit and the 128 MiB
    block size; owners follow a Zipf popularity; mtimes span nine years."""
    rng = random.Random(seed)
    uw, gw = _zipf_weights(len(USERS)), _zipf_weights(len(GROUPS))
    letters = string.ascii_lowercase
    rows = [_dir_row(ROOT_ID, None, "", "/", "hdfs", "supergroup", EPOCH_2015_MS)]
    next_id = ROOT_ID + 1
    next_block = 1 << 30

    def owner():
        return rng.choices(USERS, uw)[0], rng.choices(GROUPS, gw)[0]

    def mtime():
        return EPOCH_2015_MS + int(rng.random() * 9 * YEAR_MS)

    # pre-order walk, same child order as the reference generator
    stack = [(f"/{letters[i]}", letters[i], 1, i, ROOT_ID) for i in reversed(range(26))]
    while stack:
        full, name, d, li, parent = stack.pop()
        did = next_id
        next_id += 1
        u, g = owner()
        rows.append(_dir_row(did, parent, name, full, u, g, mtime()))
        for k in range(files_per_dir):
            size = int(math.exp(rng.uniform(0.0, math.log(8 << 30))))
            u, g = owner()
            n_blocks = -(-size // BLOCK_SIZE)
            blocks = [
                (next_block + b, 1001, min(BLOCK_SIZE, size - b * BLOCK_SIZE))
                for b in range(n_blocks)
            ]
            next_block += n_blocks
            fname = f"{letters[k % 26]}_{k // 26}"
            mt = mtime()
            rows.append({
                "id": next_id, "parent_id": did, "name": fname, "type": "FILE",
                "full_path": f"{full}/{fname}", "user": u, "group": g,
                "mode": 0o644, "mtime": mt, "atime": mt + rng.randrange(YEAR_MS),
                "replication": rng.choice((1, 2, 3, 3, 3)),
                "preferred_block_size": BLOCK_SIZE, "storage_policy_id": 0,
                "ec_policy_id": 0, "ns_quota": -1, "ds_quota": -1,
                "symlink_target": None, "blocks": blocks,
            })
            next_id += 1
        if d < DEPTH:
            for w in reversed(range(1, WIDTH + 1)):
                nxt = (li + w) % 26
                stack.append((f"{full}/{letters[nxt]}", letters[nxt], d + 1, nxt, did))
    return rows


def _dir_row(iid, parent, name, full, user, group, mtime) -> dict:
    return {
        "id": iid, "parent_id": parent, "name": name, "type": "DIRECTORY",
        "full_path": full, "user": user, "group": group, "mode": 0o755,
        "mtime": mtime, "atime": 0, "replication": 0, "preferred_block_size": 0,
        "storage_policy_id": 0, "ec_policy_id": 0, "ns_quota": -1, "ds_quota": -1,
        "symlink_target": None, "blocks": [],
    }


def file_size(row: dict) -> int:
    return sum(b[2] for b in row["blocks"])


def expected_totals(rows: list[dict]) -> dict:
    """What the program must reproduce from these rows."""
    files = [r for r in rows if r["type"] == "FILE"]
    return {
        "rows": len(rows),
        "dirs": len(rows) - len(files),
        "files": len(files),
        "sum_size": sum(file_size(r) for r in files),
        "blocks": sum(len(r["blocks"]) for r in files),
        "distinct_paths": len({r["full_path"] for r in rows}),
    }


def write_image(path: str, rows: list[dict]) -> None:
    """The binary fsimage, through the repository's own encoder."""
    from hfsa_spark.extract.fsimage_writer import write_fsimage

    write_fsimage(path, [{k: v for k, v in r.items() if k != "full_path"} for r in rows])


def write_inodes_source(path: str, rows: list[dict]) -> None:
    """The namespace as one parquet file in the ``inodes`` schema, paths
    already resolved (the report workload reads no fsimage)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hfsa_spark.schema import INODES_SCHEMA

    def parent(p: str) -> str:
        head = p.rsplit("/", 1)[0]
        return head or "/"

    cols: dict[str, list] = {f.name: [] for f in INODES_SCHEMA.fields}
    for r in rows:
        size = file_size(r)
        full = r["full_path"]
        derived = {
            "path": "/" if full == "/" else parent(full),
            "depth": 0 if full == "/" else full.count("/"),
            "blocks": [
                {"block_id": b, "gen_stamp": g, "num_bytes": n} for b, g, n in r["blocks"]
            ],
            "file_size": size,
            "consumed_size": size * max(r["replication"], 1),
            "num_blocks": len(r["blocks"]),
        }
        for name in cols:
            cols[name].append(derived[name] if name in derived else r[name])
    schema = pa.schema([
        pa.field(f.name, _arrow_type(f.dataType), f.nullable) for f in INODES_SCHEMA.fields
    ])
    pq.write_table(pa.Table.from_pydict(cols, schema=schema), path)


def _arrow_type(t):
    import pyarrow as pa
    from pyspark.sql import types as T

    if isinstance(t, T.LongType):
        return pa.int64()
    if isinstance(t, T.IntegerType):
        return pa.int32()
    if isinstance(t, T.StringType):
        return pa.string()
    if isinstance(t, T.ArrayType):
        return pa.list_(_arrow_type(t.elementType))
    if isinstance(t, T.StructType):
        return pa.struct([pa.field(f.name, _arrow_type(f.dataType)) for f in t.fields])
    raise TypeError(t)


# ------------------------------------------------------ driver-contract data

_WORDS = (
    "the a data table row column key value join agg group sort filter scan "
    "query batch stream window merge hash part line order customer spark "
    "fast slow big small vector index cache shuffle stage task job plan"
).split()
_LANGS = ["en"] * 3 + ["de", "fr", "es", "zh"]


def write_query_tables(out_dir: str, seed: int) -> None:
    """The tables the benchmarked driver queries read (lineitem, orders,
    customer, supplier, documents), with the columns and value ranges of
    the contract's synthetic TPC-H-like data. A quarter of the documents are
    edited copies of another document, so the near-duplicate, set-similarity
    and containment queries have matches to find."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = N_ORDERS // 10, N_ORDERS // 150, N_ORDERS // 7
    day0 = dt.datetime(1995, 1, 1)

    def day(span_days: int) -> dt.datetime:
        return day0 + dt.timedelta(days=rng.randrange(span_days))

    def money(lo: float, hi: float) -> float:
        return round(rng.uniform(lo, hi), 2)

    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    tables = {
        "customer": {
            "c_custkey": list(range(n_cust)),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": [rng.randrange(25) for _ in range(n_cust)],
            "c_acctbal": [money(-999, 9999) for _ in range(n_cust)],
            "c_mktsegment": [rng.choice(segs) for _ in range(n_cust)],
        },
        "supplier": {
            "s_suppkey": list(range(n_supp)),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": [rng.randrange(25) for _ in range(n_supp)],
            "s_acctbal": [money(-999, 9999) for _ in range(n_supp)],
        },
        "orders": {
            "o_orderkey": list(range(N_ORDERS)),
            "o_custkey": [rng.randrange(n_cust) for _ in range(N_ORDERS)],
            "o_orderstatus": [rng.choice("FOP") for _ in range(N_ORDERS)],
            "o_totalprice": [money(900, 500000) for _ in range(N_ORDERS)],
            "o_orderdate": [day(2500) for _ in range(N_ORDERS)],
            "o_orderpriority": [
                rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
                for _ in range(N_ORDERS)
            ],
        },
    }
    li: dict[str, list] = {k: [] for k in (
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
        "l_shipdate",
    )}
    for o in range(N_ORDERS):
        for ln in range(1, 1 + rng.randrange(1, 8)):
            li["l_orderkey"].append(o)
            li["l_partkey"].append(rng.randrange(n_part))
            li["l_suppkey"].append(rng.randrange(n_supp))
            li["l_linenumber"].append(ln)
            li["l_quantity"].append(float(rng.randrange(1, 51)))
            li["l_extendedprice"].append(money(900, 100000))
            li["l_discount"].append(rng.randrange(11) / 100)
            li["l_tax"].append(rng.randrange(9) / 100)
            li["l_returnflag"].append(rng.choice("ANR"))
            li["l_linestatus"].append(rng.choice("FO"))
            li["l_shipdate"].append(day(2500))
    tables["lineitem"] = li

    texts: list[str] = []
    for i in range(N_DOCS):
        if i >= 8 and rng.random() < 0.25:
            words = texts[rng.randrange(i)].split()
            for _ in range(rng.randrange(1, 4)):
                words[rng.randrange(len(words))] = rng.choice(_WORDS)
        else:
            words = [rng.choice(_WORDS) for _ in range(rng.randrange(8, 90))]
        texts.append(" ".join(words))
    tables["documents"] = {
        "doc_id": list(range(N_DOCS)),
        "text": texts,
        "lang": [rng.choice(_LANGS) for _ in range(N_DOCS)],
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": [len(t) for t in texts],
    }
    ts_type = pa.timestamp("us")
    for name, cols in tables.items():
        arrays = {
            k: pa.array(v, type=ts_type) if k.endswith("date") else pa.array(v)
            for k, v in cols.items()
        }
        pq.write_table(pa.table(arrays), os.path.join(out_dir, f"{name}.parquet"))
