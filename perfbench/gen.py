"""Seeded inputs for every workload.

Everything the program under test receives is made here from the
``--seed``: the TPC-H-shaped parquet tables ``graphify`` reads, the
query parameters of ``analytic``, the
N-Triples file and the update stream of ``write_mix``. The same seed
gives byte-identical inputs; sizes depend only on the scale factor.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# rows per unit scale factor (TPC-H proportions; nation/region fixed)
ROWS_PER_SF = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
N_NATIONS = 25
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_WORDS = ["blue", "cold", "hot", "large", "old", "red", "small", "tiny"]
P_NOUNS = ["bolt", "gear", "gizmo", "ring", "widget", "nut", "pin", "cog"]
EPOCH = dt.datetime(1995, 1, 1)
ORDER_DAYS = 2400  # order dates span 1995-01-01 .. ~2001-07


def table_sizes(sf: float) -> dict[str, int]:
    sizes = {t: max(1, int(round(n * sf))) for t, n in ROWS_PER_SF.items()}
    sizes["nation"] = N_NATIONS
    sizes["region"] = len(REGIONS)
    return sizes


def make_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """The seven graphify tables at scale ``sf``, deterministic in
    ``seed`` (one numpy Generator, tables drawn in a fixed order)."""
    rng = np.random.default_rng(seed)
    n = table_sizes(sf)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    region = pa.table({
        "r_regionkey": pa.array(range(len(REGIONS)), i32),
        "r_name": pa.array(REGIONS, s),
    })
    nk = np.arange(N_NATIONS)
    nation = pa.table({
        "n_nationkey": pa.array(nk, i32),
        "n_name": pa.array([f"NATION_{k}" for k in nk], s),
        "n_regionkey": pa.array(nk % len(REGIONS), i32),
    })
    ck = np.arange(n["customer"])
    customer = pa.table({
        "c_custkey": pa.array(ck, i64),
        "c_name": pa.array([f"Customer#{k:09d}" for k in ck], s),
        "c_nationkey": pa.array(rng.integers(0, N_NATIONS, len(ck)), i32),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, len(ck)), 2), f64),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, len(ck)), s),
    })
    sk = np.arange(n["supplier"])
    supplier = pa.table({
        "s_suppkey": pa.array(sk, i64),
        "s_name": pa.array([f"Supplier#{k:09d}" for k in sk], s),
        "s_nationkey": pa.array(rng.integers(0, N_NATIONS, len(sk)), i32),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, len(sk)), 2), f64),
    })
    pk = np.arange(n["part"])
    retail = np.round(900.0 + (pk % 1000) * 0.1, 2)
    part = pa.table({
        "p_partkey": pa.array(pk, i64),
        "p_name": pa.array(
            [f"{a} {b}" for a, b in zip(rng.choice(P_WORDS, len(pk)), rng.choice(P_NOUNS, len(pk)))], s
        ),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, len(pk))], s),
        "p_type": pa.array(rng.choice(P_TYPES, len(pk)), s),
        "p_size": pa.array(rng.integers(1, 51, len(pk)), i32),
        "p_retailprice": pa.array(retail, f64),
    })
    ok = np.arange(n["orders"])
    odays = rng.integers(0, ORDER_DAYS, len(ok))
    orders = pa.table({
        "o_orderkey": pa.array(ok, i64),
        "o_custkey": pa.array(rng.integers(0, n["customer"], len(ok)), i64),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], len(ok)), s),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 450000.0, len(ok)), 2), f64),
        "o_orderdate": pa.array(
            (np.datetime64(EPOCH) + odays.astype("timedelta64[D]")).astype("datetime64[us]"), ts
        ),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, len(ok)), s),
    })
    nl = n["lineitem"]
    l_ok = rng.integers(0, n["orders"], nl)
    l_pk = rng.integers(0, n["part"], nl)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    ship = odays[l_ok] + rng.integers(1, 122, nl)
    lineitem = pa.table({
        "l_orderkey": pa.array(l_ok, i64),
        "l_partkey": pa.array(l_pk, i64),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], nl), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
        "l_quantity": pa.array(qty, f64),
        "l_extendedprice": pa.array(np.round(qty * retail[l_pk], 2), f64),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0, f64),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], nl), s),
        "l_linestatus": pa.array(rng.choice(["F", "O"], nl), s),
        "l_shipdate": pa.array(
            (np.datetime64(EPOCH) + ship.astype("timedelta64[D]")).astype("datetime64[us]"), ts
        ),
    })
    return {
        "region": region, "nation": nation, "customer": customer,
        "supplier": supplier, "part": part, "orders": orders,
        "lineitem": lineitem,
    }


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


# ---- analytic -------------------------------------------------------

ANALYTIC_KINDS = (
    "q1_pricing", "three_hop_volume", "subselect_nation", "path_closure",
    "construct_region", "cypher_aggregate", "dsl_repeat_until",
    "reasoners", "pagerank",
)


def analytic_params(rng: np.random.Generator, kind: str) -> dict:
    """Fresh parameters for one analytic op, drawn from ``rng``."""
    if kind == "q1_pricing":
        day = int(rng.integers(ORDER_DAYS // 2, ORDER_DAYS + 90))
        return {"cutoff": (EPOCH + dt.timedelta(days=day)).strftime("%Y-%m-%d 00:00:00")}
    if kind == "three_hop_volume":
        return {"flag": str(rng.choice(["A", "N", "R"])), "min_qty": int(rng.integers(1, 40))}
    if kind == "subselect_nation":
        return {"min_total": int(rng.integers(10, 400)) * 1000}
    if kind in ("path_closure", "construct_region"):
        return {"region": int(rng.integers(0, len(REGIONS))), "segment": str(rng.choice(SEGMENTS))}
    if kind == "cypher_aggregate":
        return {"min_total": float(rng.integers(10, 400) * 1000)}
    if kind == "dsl_repeat_until":
        return {"start": str(rng.choice(["Supplier", "Nation", "Customer"])),
                "min_bal": float(rng.integers(-9, 90) * 100)}
    if kind == "reasoners":
        return {"label": str(rng.choice(["Actor", "Place"])),
                "region": int(rng.integers(0, len(REGIONS))),
                "rel": str(rng.choice(["IN_NATION", "IN_REGION", "LOCATED"]))}
    if kind == "pagerank":
        return {"damping": float(rng.choice([0.80, 0.85, 0.90]))}
    raise ValueError(kind)


def analytic_stream(seed: int, count: int) -> list[tuple[str, dict]]:
    """Ops in whole rounds of ``ANALYTIC_KINDS`` (fixed order, so every
    run measures the same mix), each with fresh parameters."""
    rng = np.random.default_rng([seed, 2])
    return [
        (ANALYTIC_KINDS[i % len(ANALYTIC_KINDS)], analytic_params(rng, ANALYTIC_KINDS[i % len(ANALYTIC_KINDS)]))
        for i in range(count)
    ]


# ---- write_mix ------------------------------------------------------

NS = "urn:default#"
XSD = "http://www.w3.org/2001/XMLSchema#"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"

# (table, key column, label, property columns) in graphify's node
# mapping; the N-Triples file carries the same facts as an RDF export
# of the graphified tables would
NODE_SPECS = [
    ("region", "r_regionkey", "Region", ["r_regionkey", "r_name"]),
    ("nation", "n_nationkey", "Nation", ["n_nationkey", "n_name", "n_regionkey"]),
    ("customer", "c_custkey", "Customer",
     ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]),
    ("supplier", "s_suppkey", "Supplier", ["s_suppkey", "s_name", "s_nationkey", "s_acctbal"]),
    ("part", "p_partkey", "Part",
     ["p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"]),
    ("orders", "o_orderkey", "Orders",
     ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"]),
]
LINEITEM_PROPS = ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
                  "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
                  "l_shipdate"]
EDGE_SPECS = [  # (table, src key, predicate, dst table, dst key)
    ("customer", "c_custkey", "IN_NATION", "nation", "c_nationkey"),
    ("nation", "n_nationkey", "IN_REGION", "region", "n_regionkey"),
    ("supplier", "s_suppkey", "IN_NATION", "nation", "s_nationkey"),
    ("orders", "o_orderkey", "PLACED_BY", "customer", "o_custkey"),
]
LINEITEM_EDGES = [("PART_OF", "orders", "l_orderkey"), ("OF_PART", "part", "l_partkey"),
                  ("FROM_SUPPLIER", "supplier", "l_suppkey")]


def _nt_literal(v) -> str:
    if isinstance(v, (bool, np.bool_)):
        return f'"{str(bool(v)).lower()}"^^<{XSD}boolean>'
    if isinstance(v, (int, np.integer)):
        return f'"{int(v)}"^^<{XSD}long>'
    if isinstance(v, (float, np.floating)):
        return f'"{float(v)!r}"^^<{XSD}double>'
    text = str(v).replace("\\", "\\\\").replace('"', '\\"')
    return f'"{text}"'


def write_ntriples(tables: dict[str, pa.Table], path: str) -> dict[str, int]:
    """Write the graph of ``tables`` as N-Triples; returns the node,
    edge and triple counts an importer must reproduce."""
    counts = {"nodes": 0, "edges": 0, "triples": 0}
    with open(path, "w", encoding="utf-8") as out:
        def emit(line: str) -> None:
            out.write(line)
            counts["triples"] += 1

        cols = {t: tables[t].to_pydict() for t in tables}
        for table, key, label, props in NODE_SPECS:
            c = cols[table]
            for i, k in enumerate(c[key]):
                s = f"<urn:{table}:{k}>"
                emit(f"{s} <{RDF_TYPE}> <{NS}{label}> .\n")
                for p in props:
                    v = c[p][i]
                    if isinstance(v, dt.datetime):
                        v = v.strftime("%Y-%m-%d %H:%M:%S")
                    emit(f"{s} <{NS}{p}> {_nt_literal(v)} .\n")
                counts["nodes"] += 1
        for table, key, pred, dst_table, dst_key in EDGE_SPECS:
            c = cols[table]
            for k, d in zip(c[key], c[dst_key]):
                emit(f"<urn:{table}:{k}> <{NS}{pred}> <urn:{dst_table}:{d}> .\n")
                counts["edges"] += 1
        li = cols["lineitem"]
        for i in range(len(li["l_orderkey"])):
            s = f"<urn:lineitem:{i}>"
            emit(f"{s} <{RDF_TYPE}> <{NS}Lineitem> .\n")
            for p in LINEITEM_PROPS:
                v = li[p][i]
                if isinstance(v, dt.datetime):
                    v = v.strftime("%Y-%m-%d %H:%M:%S")
                emit(f"{s} <{NS}{p}> {_nt_literal(v)} .\n")
            counts["nodes"] += 1
            for pred, dst_table, dst_key in LINEITEM_EDGES:
                emit(f"{s} <{NS}{pred}> <urn:{dst_table}:{li[dst_key][i]}> .\n")
                counts["edges"] += 1
    return counts


# request shapes in a fixed rotation of 1, 2 and 4 chained operations,
# so every run measures the same mix whatever its seed
WRITE_SHAPES = (
    ("modify_where",),
    ("cypher_create", "insert_data"),
    ("delete_data", "cypher_set", "insert_data", "cypher_create"),
)
KEYED_WRITES = ("delete_data", "modify_where", "cypher_set")


def write_requests(seed: int, n_customers: int, count: int) -> list[list[dict]]:
    """``count`` update requests. Every operation carries the value the
    read-after-write check must then see; keyed operations touch a
    customer no other operation in the stream touches, so no request
    depends on another one's outcome."""
    rng = np.random.default_rng([seed, 3])
    keys = iter(rng.permutation(n_customers).tolist())
    requests = []
    for r in range(count):
        ops = []
        for j, kind in enumerate(WRITE_SHAPES[r % len(WRITE_SHAPES)]):
            op = {"kind": kind, "tag": f"w{seed}_{r}_{j}", "value": int(rng.integers(1, 1_000_000))}
            if kind in KEYED_WRITES:
                op["key"] = int(next(keys))
            ops.append(op)
        requests.append(ops)
    return requests
