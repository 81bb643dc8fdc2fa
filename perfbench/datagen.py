"""Seeded input generators for the benchmark.

Two generators, both pure functions of ``seed`` and a size:

- :func:`write_warehouse` writes the ten TPC-H-shaped tables the query
  registry reads (``schemas.TESTDATA_TABLES``), one parquet file each, with
  the same columns, types, key ranges and value distributions as the
  synthetic test data the queries are written against.
- :func:`write_iowa_pages` writes Iowa-Liquor-Sales-shaped CSV pages (the
  24-column ``schemas.IOWA_RAW_SCHEMA`` wire format) with the dirt the
  reference's transform stage exists to clean: repeated invoice lines,
  malformed ``pack`` cells and empty ``sale_dollars`` cells.

Generation uses numpy and pyarrow only; the engine under test sees just
the files.
"""

from __future__ import annotations

import os
from datetime import date, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["small", "red", "blue", "hot", "large", "old", "cold", "new"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
VOCAB = (
    "a the data spark join hash row batch scan column customer filter small "
    "slow merge order vector line table agg value key stream window part "
    "group big sort query fast"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def table_sizes(sf: float) -> dict[str, int]:
    """Row counts per table at scale factor ``sf`` (lineitem = 6M x sf)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(150, round(150_000 * sf)),
        "supplier": max(10, round(10_000 * sf)),
        "part": max(200, round(200_000 * sf)),
        "orders": max(1_500, round(1_500_000 * sf)),
        "lineitem": max(6_000, round(6_000_000 * sf)),
        "events": max(1_000, round(1_000_000 * sf)),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: date, n_days: int, n: int) -> np.ndarray:
    base = np.datetime64(start.isoformat(), "us")
    return base + rng.integers(0, n_days, n).astype("timedelta64[D]")


def _pick(rng, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _documents(rng, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        # ~5% are an earlier document plus a marker token: exact-dedup
        # misses them, every near-duplicate detector must find them.
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(np.asarray(VOCAB)[rng.integers(0, len(VOCAB), k)]))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": _pick(rng, LANGS, n, LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def warehouse_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = table_sizes(sf)
    i32, i64 = np.int32, np.int64
    tables: dict[str, pa.Table] = {
        "region": pa.table(
            {"r_regionkey": pa.array(np.arange(5, dtype=i32)), "r_name": REGIONS}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(np.arange(25, dtype=i32)),
                "n_name": [f"NATION_{k}" for k in range(25)],
                "n_regionkey": pa.array(np.arange(25, dtype=i32) % 5),
            }
        ),
    }
    nc = n["customer"]
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc, dtype=i64)),
            "c_name": [f"Customer#{k:09d}" for k in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(i32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
            "c_mktsegment": _pick(rng, SEGMENTS, nc),
        }
    )
    ns = n["supplier"]
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns, dtype=i64)),
            "s_name": [f"Supplier#{k:09d}" for k in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(i32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns)),
        }
    )
    npart = n["part"]
    adj = np.asarray(PART_ADJ, dtype=object)[rng.integers(0, 8, npart)]
    noun = np.asarray(PART_NOUN, dtype=object)[rng.integers(0, 8, npart)]
    keys = np.arange(npart, dtype=i64)
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(keys),
            "p_name": pa.array(adj + " " + noun),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npart)]),
            "p_type": _pick(rng, PART_TYPES, npart),
            "p_size": pa.array(rng.integers(1, 51, npart).astype(i32)),
            "p_retailprice": pa.array(np.round(900.0 + (keys % 1000) / 10.0, 1)),
        }
    )
    no = n["orders"]
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no, dtype=i64)),
            "o_custkey": pa.array(rng.integers(0, nc, no).astype(i64)),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, no)),
            "o_orderdate": pa.array(_days(rng, date(1995, 1, 1), 2404, no)),
            "o_orderpriority": _pick(rng, PRIORITIES, no),
        }
    )
    nl = n["lineitem"]
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl).astype(i64)),
            "l_partkey": pa.array(rng.integers(0, npart, nl).astype(i64)),
            "l_suppkey": pa.array(rng.integers(0, ns, nl).astype(i64)),
            "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(i32)),
            "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, nl)),
            "l_discount": pa.array(np.round(rng.uniform(0.0, 0.1, nl), 2)),
            "l_tax": pa.array(np.round(rng.uniform(0.0, 0.08, nl), 2)),
            "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
            "l_linestatus": _pick(rng, ["F", "O"], nl),
            "l_shipdate": pa.array(_days(rng, date(1995, 1, 2), 2498, nl)),
        }
    )
    ne = n["events"]
    offsets = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, ne))
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne, dtype=i64)),
            "ts": pa.array(np.datetime64("2024-01-01T00:00:00", "us") + offsets),
            "user_id": pa.array(rng.integers(0, max(15, round(15_000 * sf)), ne).astype(i64)),
            "event_type": _pick(rng, EVENT_TYPES, ne),
            "value": pa.array(np.round(rng.exponential(50.0, ne), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
        }
    )
    tables["documents"] = _documents(rng, n["documents"])
    nv = n["embeddings"]
    vec = rng.standard_normal((nv, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    tables["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(nv, dtype=i64)),
            "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, nv).astype(i32)),
        }
    )
    return tables


def write_warehouse(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write one ``<table>.parquet`` file per table; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in warehouse_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows


# --------------------------------------------------------------- Iowa pages

N_STORES, N_ITEMS, N_VENDORS, N_CATEGORIES = 2000, 8000, 300, 60
FIRST_DAY, N_DAYS = date(2020, 1, 1), (date(2025, 6, 30) - date(2020, 1, 1)).days + 1
CITIES = ["Des Moines", "Cedar Rapids", "Davenport", "Sioux City", "Iowa City",
          "Waterloo", "Ames", "Council Bluffs", "Dubuque", "Ankeny"]
VOLUMES = [375, 750, 1000, 1750]


def _str(values) -> pa.Array:
    return pc.cast(pa.array(values), pa.string())


def _cat(*parts) -> pa.Array:
    return pc.binary_join_element_wise(*parts, "")


def _cents(cents: np.ndarray) -> pa.Array:
    """Integer cents -> exact two-decimal strings ("424.48")."""
    return _cat(_str(cents // 100), ".", pc.utf8_lpad(_str(cents % 100), 2, "0"))


def _store_columns(rng) -> dict[str, pa.Array]:
    """One fixed attribute tuple per store (dim_store's eight columns)."""
    s = np.arange(N_STORES)
    county = rng.integers(1, 100, N_STORES)
    lon = -96_0000 + rng.integers(0, 6_0000, N_STORES)
    lat = 40_5000 + rng.integers(0, 3_0000, N_STORES)
    return {
        "store": _str(2000 + s),
        "name": _cat("Store ", _str(s)),
        "address": _cat(_str(rng.integers(1, 9999, N_STORES)), " Main St"),
        "city": pa.array(np.asarray(CITIES)[rng.integers(0, len(CITIES), N_STORES)]),
        "zipcode": _str(50000 + rng.integers(0, 2800, N_STORES)),
        "store_location": _cat(
            "POINT (-", _str(-lon // 10_000), ".", pc.utf8_lpad(_str(-lon % 10_000), 4, "0"),
            " ", _str(lat // 10_000), ".", pc.utf8_lpad(_str(lat % 10_000), 4, "0"), ")",
        ),
        "county_number": _str(county),
        "county": _cat("County ", _str(county)),
    }


def write_iowa_pages(out_dir: str, seed: int, n_rows: int, n_pages: int = 32) -> int:
    """Write ``n_pages`` CSV page files, each with a header (the staged
    Socrata pages); returns the total bytes written."""
    from iowa_liquor_sales_spark.schemas import IOWA_RAW_SCHEMA

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    stores = _store_columns(rng)
    item_vendor = rng.integers(0, N_VENDORS, N_ITEMS)
    item_category = rng.integers(0, N_CATEGORIES, N_ITEMS)
    item_pack = rng.choice([6, 12, 24, 48], N_ITEMS)
    item_volume = rng.choice(VOLUMES, N_ITEMS)
    item_cost = rng.integers(200, 4000, N_ITEMS)  # cents
    item_retail = item_cost * 3 // 2

    store = rng.integers(0, N_STORES, n_rows)
    item = rng.integers(0, N_ITEMS, n_rows)
    day = rng.integers(0, N_DAYS, n_rows)
    bottles = rng.integers(1, 49, n_rows)
    invoice = np.arange(n_rows)
    # ~1% of lines repeat an earlier invoice number (fact PK dedup input)
    rep = rng.random(n_rows) < 0.01
    rep[0] = False
    invoice[rep] = (rng.random(rep.sum()) * np.flatnonzero(rep)).astype(np.int64)
    bad_pack = rng.random(n_rows) < 0.02
    empty_dollars = rng.random(n_rows) < 0.02

    days = pa.array(
        [(FIRST_DAY + timedelta(days=d)).isoformat() + "T00:00:00.000" for d in range(N_DAYS)]
    )
    vendor, cat, vol = item_vendor[item], item_category[item], item_volume[item]
    ml = vol * bottles
    columns = {
        "invoice_line_no": _cat("INV-", pc.utf8_lpad(_str(invoice), 9, "0")),
        "date": days.take(pa.array(day)),
        **{k: v.take(pa.array(store)) for k, v in stores.items()},
        "category": _str(1_000_000 + cat * 10),
        "category_name": _cat("Category ", _str(cat)),
        "vendor_no": _str(100 + vendor),
        "vendor_name": _cat("Vendor ", _str(vendor)),
        "itemno": _str(10_000 + item),
        "im_desc": _cat("Item ", _str(item), " ", _str(vol), "ml"),
        "pack": pc.if_else(pa.array(bad_pack), "N/A", _str(item_pack[item])),
        "bottle_volume_ml": _str(vol),
        "state_bottle_cost": _cents(item_cost[item]),
        "state_bottle_retail": _cents(item_retail[item]),
        "sale_bottles": _str(bottles),
        "sale_dollars": pc.if_else(
            pa.array(empty_dollars), pa.scalar(None, pa.string()),
            _cents(item_retail[item] * bottles),
        ),
        "sale_liters": _cents(ml // 10),
        "sale_gallons": _cents(ml * 100 // 3785),
    }
    table = pa.table({k: columns[k] for k in IOWA_RAW_SCHEMA.fieldNames()})
    bounds = np.linspace(0, n_rows, n_pages + 1).astype(int)
    options = pacsv.WriteOptions(quoting_style="none")
    total = 0
    for p in range(n_pages):
        path = os.path.join(out_dir, f"page-{p:05d}.csv")
        page = table.slice(bounds[p], bounds[p + 1] - bounds[p])
        pacsv.write_csv(page, path, options)
        total += os.path.getsize(path)
    return total
