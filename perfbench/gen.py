"""Seeded input generators for the benchmark.

Everything a run reads is made here from `--seed`: the worker x firm x
year panel for `fe_panel` and the panel prep ops, and a small TPC-H-like
star schema plus a document table for the registry ops. The same seed
gives byte-identical parquet files. Each generator also returns the facts
it knows about its output (row counts, group counts, planted
coefficients), which the output checks compare against.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

YEARS = 10
FIRST_YEAR = 2010
REGIONS = 8
SECTORS = 5
# planted coefficients: linear outcome y on (x1, x2), count outcome cnt
BETA = (1.0, -0.5)
BETA_POIS = (0.3, -0.2)

VOCAB = ("join hash row batch scan customer column filter small slow merge order "
         "vector line data table agg value key stream window spark a group part "
         "big sort query fast the").split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.44, 0.14, 0.14, 0.13, 0.15)
SOURCES = 20
DUP_SHARE = 0.05     # documents that copy an original
CORE_SHARE = 0.85    # lineitems whose part is in the dense core
KCORE_K = 80         # q186's k
PEEL_LAYERS = 9      # q186 peel rounds (the query allows at most 12)
LAYER_PARTS = 10     # parts per layer of the peel chain
CORE_LINKS = 65      # core neighbours of a layer part beyond the first layer


def panel(seed, workers, firms, movers=0.05):
    """Balanced worker x year panel with a firm per worker-year.

    Each worker stays at one firm except a `movers` share, who switch
    once to another firm; so few movers keep the two-way alternating
    projections slow. Worker and firm effects are correlated with the
    regressors, so OLS without fixed effects is biased and the FE fits
    must absorb them to recover BETA.
    """
    rng = np.random.default_rng([seed, workers, firms])
    n = workers * YEARS
    worker = np.repeat(np.arange(workers, dtype=np.int64), YEARS)
    year = np.tile(np.arange(FIRST_YEAR, FIRST_YEAR + YEARS, dtype=np.int32), workers)
    home = rng.integers(0, firms, workers)
    is_mover = rng.random(workers) < movers
    move_at = rng.integers(1, YEARS, workers)
    other = (home + rng.integers(1, firms, workers)) % firms
    t = year - FIRST_YEAR
    firm = np.where(is_mover[worker] & (t >= move_at[worker]), other[worker], home[worker])
    a = rng.normal(0.0, 1.0, workers)[worker]
    p = rng.normal(0.0, 0.5, firms)[firm]
    x1 = 0.5 * a + rng.normal(0.0, 1.0, n)
    x2 = 0.5 * p + rng.normal(0.0, 1.0, n)
    y = BETA[0] * x1 + BETA[1] * x2 + a + p + rng.normal(0.0, 1.0, n)
    mu = np.exp(0.2 + BETA_POIS[0] * x1 + BETA_POIS[1] * x2 + 0.3 * a + 0.3 * p)
    cnt = rng.poisson(mu).astype(np.float64)
    table = pa.table({
        "worker": worker,
        "firm": firm.astype(np.int64),
        "year": year,
        "x1": x1,
        "x2": x2,
        "y": y,
        "cnt": cnt,
        "region": (firm % REGIONS).astype(np.int32),
        "sector": (worker % SECTORS).astype(np.int32),
    })
    facts = {
        "rows": n,
        "workers": workers,
        "firms_used": int(np.unique(firm).size),
        "firm_year_cells": int(np.unique(firm.astype(np.int64) * YEARS + t).size),
        "regions_used": int(np.unique(firm % REGIONS).size),
        "sectors_used": int(min(workers, SECTORS)),
        "movers": int(is_mover.sum()),
    }
    return table, facts


def tpch(seed, scale):
    """orders / lineitem / customer with the column set and value ranges
    of the repo's test star schema; `scale` = 1.0 is sf0.01 (60k lines).

    Part keys come from a dense core (`CORE_SHARE` of the lines over
    800 * scale parts, ~130 distinct co-order neighbours each), a sparse
    periphery (~15) and a chain of `PEEL_LAYERS` layers of `LAYER_PARTS`
    parts each, added as orders of their own (`peel_chain`). The k = 80
    core of q186 is the dense part on every seed, and its peel takes one
    round per layer of the chain."""
    rng = np.random.default_rng([seed, 7])
    n_cust = int(1500 * scale)
    n_part = int(3000 * scale)
    core_parts = int(800 * scale)
    n_supp = max(10, int(100 * scale))
    n_ord = int(15000 * scale)
    n_line = int(60000 * scale)
    core = rng.random(n_line) < CORE_SHARE
    partkey = np.where(core, rng.integers(0, core_parts, n_line),
                       rng.integers(core_parts, n_part, n_line))
    orderkey = rng.integers(0, n_ord, n_line)
    chain_orders, chain_parts = peel_chain(rng, core_parts, n_part, n_ord)
    orderkey = np.concatenate([orderkey, chain_orders])
    partkey = np.concatenate([partkey, chain_parts])
    n_ord = int(chain_orders.max()) + 1
    n_line = len(orderkey)
    day0 = np.datetime64("1992-01-01", "us")
    days = np.timedelta64(1, "D").astype("timedelta64[us]")

    def dates(k):
        return day0 + rng.integers(0, 3650, k) * days

    customer = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust),
    })
    orders = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": pa.array(dates(n_ord), pa.timestamp("us")),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
    })
    lineitem = pa.table({
        "l_orderkey": orderkey.astype(np.int64),
        "l_partkey": partkey.astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_line), 2),
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": pa.array(dates(n_line), pa.timestamp("us")),
    })
    facts = {"customer": n_cust, "orders": n_ord, "lineitem": n_line}
    return {"customer": customer, "orders": orders, "lineitem": lineitem}, facts


def peel_chain(rng, core_parts, first_part, first_order):
    """(orderkey, partkey) lines of a chain of PEEL_LAYERS layers that
    q186's peel removes one layer per round, outermost first.

    A layer part is co-ordered with every part of the layer below it
    (2-line orders; the core counts as layer 0) and with CORE_LINKS core
    parts (orders of up to 13 core parts plus the layer part), so it has
    CORE_LINKS + 2 * LAYER_PARTS = k + 5 neighbours while the layer above
    it lives and k - 5 once it is peeled; the outermost layer starts at
    k - 5. A first-layer part takes its LAYER_PARTS layer-0 neighbours
    from the core orders. Layer parts appear in no other order, so the
    round count is the same on every seed; the seed picks the core parts.
    """
    assert CORE_LINKS + 2 * LAYER_PARTS == KCORE_K + 5
    orders, parts = [], []
    o = first_order
    for layer in range(1, PEEL_LAYERS + 1):
        base = first_part + (layer - 1) * LAYER_PARTS
        for i in range(LAYER_PARTS):
            p = base + i
            n_core = CORE_LINKS + (LAYER_PARTS if layer == 1 else 0)
            core = rng.choice(core_parts, n_core, replace=False)
            for chunk in np.array_split(core, -(-n_core // 13)):
                orders += [o] * (len(chunk) + 1)
                parts += [p, *chunk.tolist()]
                o += 1
            if layer > 1:
                for q in range(base - LAYER_PARTS, base):
                    orders += [o, o]
                    parts += [p, q]
                    o += 1
    return np.array(orders, dtype=np.int64), np.array(parts, dtype=np.int64)


def documents(seed, n_docs):
    """Random-word documents over a 30-word vocabulary, in SOURCES blocks
    (`source` = doc_id mod SOURCES). A fixed DUP_SHARE of them copy an
    earlier original of their own block and append one or two "dup"
    tokens, so every copy is a near-duplicate that the block-wise dedup
    ops find; copies are never copied again, so each duplicate cluster is
    a star around its original and connected components settle in the
    same number of rounds on every seed."""
    rng = np.random.default_rng([seed, 11])
    dups = set(rng.choice(np.arange(SOURCES, n_docs), int(n_docs * DUP_SHARE), replace=False).tolist())
    texts = []
    originals = []
    for i in range(n_docs):
        block = [j for j in originals if j % SOURCES == i % SOURCES]
        if i in dups and block:
            src = block[int(rng.integers(0, len(block)))]
            texts.append(texts[src] + " dup" * int(rng.integers(1, 3)))
        else:
            originals.append(i)
            words = rng.choice(VOCAB, int(rng.integers(10, 100)))
            texts.append(" ".join(words))
    table = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % SOURCES}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    return table, {"documents": n_docs}


def write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def generate(workload, seed, out, sizes):
    """Write the workload's inputs under `out`; return the known facts."""
    facts = {}
    if workload in ("fe_panel", "prep_pipeline"):
        t, facts["panel"] = panel(seed, sizes["workers"], sizes["firms"])
        write(t, os.path.join(out, "panel.parquet"))
    if workload == "fe_panel":
        t, facts["panel_small"] = panel(seed, sizes["small_workers"], sizes["small_firms"],
                                        sizes["small_movers"])
        write(t, os.path.join(out, "panel_small.parquet"))
        t, facts["panel_pois"] = panel(seed, sizes["pois_workers"], sizes["pois_firms"],
                                       sizes["pois_movers"])
        write(t, os.path.join(out, "panel_pois.parquet"))
    if workload == "iter_loops":
        tables, facts["tpch"] = tpch(seed, sizes["tpch_scale"])
        for name, t in tables.items():
            write(t, os.path.join(out, f"{name}.parquet"))
    if workload in ("iter_loops", "prep_pipeline"):
        t, facts["docs"] = documents(seed, sizes["documents"])
        write(t, os.path.join(out, "documents.parquet"))
    return facts
