"""Seeded synthetic inputs for the workloads.

Everything the engine sees is generated here from ``--seed``: the same seed
gives byte-identical tables, row orders and query orders. The generators are
NumPy/pyarrow only (no Spark), so input synthesis never shares a timed region
with the engine.

The relational corpus mirrors the schema of the repository's test corpus
(TPC-H-ish star schema plus ``events``, ``documents`` and ``embeddings``;
see FIXTURES.md section C) at roughly the sf0.01 row counts, with the same
value domains: the registered queries and their DuckDB oracles run on it
unchanged.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --- scbf_io -----------------------------------------------------------------

PROJECTED_COLUMN = "k"  # the small int32 column of the projected scan


def _pick(values: list[str], idx: np.ndarray) -> pa.Array:
    return pa.array(values, pa.string()).take(pa.array(idx))


def scbf_table(seed: int, rows: int) -> pa.Table:
    """``rows`` x 8 SCBF-v1-representable columns (int32, float64, utf8).

    ``id`` is a seeded permutation of ``0..rows-1`` (so the row order is the
    seed's), ``name`` has BASELINE.md's 1000 distinct ``user_<i>`` values and
    ``payload`` its 60-character repetitive strings."""
    rng = np.random.default_rng(seed)
    names = [f"user_{i}" for i in range(1000)]
    payloads = [f"payload_{i}".ljust(60, "x") for i in range(97)]
    tags = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]
    return pa.table(
        {
            "id": rng.permutation(rows).astype(np.int32),
            "k": rng.integers(0, 100, rows).astype(np.int32),
            "qty": rng.integers(1, 10_000, rows).astype(np.int32),
            "score": rng.random(rows) * 100.0,
            "price": np.round(rng.random(rows) * 1000.0, 2),
            "name": _pick(names, rng.integers(0, len(names), rows)),
            "payload": _pick(payloads, rng.integers(0, len(payloads), rows)),
            "tag": _pick(tags, rng.integers(0, len(tags), rows)),
        }
    )


# --- relational corpus (query_mix) ------------------------------------------

_WORDS = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key "
    "query a scan batch"
).split()
_LANGS = np.array(["en", "zh", "es", "fr", "de"])
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_T0_US = 788_918_400_000_000  # 1995-01-01T00:00:00Z in microseconds
_DAY_US = 86_400_000_000


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), pa.timestamp("us"))


def documents(seed: int, n: int) -> pa.Table:
    """Random word documents over the corpus vocabulary. About 5% are near
    duplicates (an earlier document plus one word) and 0.3% exact copies,
    so the dedup operators find real clusters."""
    rng = np.random.default_rng(seed + 7)
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.053:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            words = rng.choice(len(_WORDS), int(rng.integers(10, 101)))
            texts.append(" ".join(_WORDS[w] for w in words))
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(_LANGS, n, p=_LANG_P).tolist(), pa.string()),
            "source": pa.array([f"src{int(s)}" for s in rng.integers(0, 20, n)], pa.string()),
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    v = rng.standard_normal((n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    flat = pa.array(v.reshape(-1), pa.float32())
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.ListArray.from_arrays(
                pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32)), flat
            ),
            "label": rng.integers(0, 10, n).astype(np.int32),
        }
    )


def corpus(seed: int, scale: float = 0.01) -> dict[str, pa.Table]:
    """The ten corpus tables at ``scale`` (1.0 ~ TPC-H sf1 row counts)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * scale), int(10_000 * scale), int(200_000 * scale)
    n_ord, n_li, n_ev = int(1_500_000 * scale), int(6_000_000 * scale), int(1_000_000 * scale)
    n_users = max(10, int(15_000 * scale))
    segments = np.array(["HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE"])
    adjs = np.array(["small", "red", "blue", "hot", "old", "large", "new", "cold"])
    nouns = np.array(["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut"])
    ptypes = np.array(["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"])
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    ev_types = np.array(["signup", "error", "click", "view", "purchase"])

    def strs(a) -> pa.Array:
        return pa.array(np.asarray(a).tolist(), pa.string())

    def money(n: int, hi: float) -> np.ndarray:
        return np.round(rng.random(n) * hi, 2)

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": strs(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": strs([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": strs([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": money(n_cust, 10_000),
            "c_mktsegment": strs(rng.choice(segments, n_cust)),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": strs([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": money(n_supp, 10_000),
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": strs(
                np.char.add(np.char.add(rng.choice(adjs, n_part), " "), rng.choice(nouns, n_part))
            ),
            "p_brand": strs([f"Brand#{int(b)}" for b in rng.integers(1, 26, n_part)]),
            "p_type": strs(rng.choice(ptypes, n_part)),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
        }
    )
    span_days = 2404  # 1995-01-01 .. 2001-08-01
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": strs(rng.choice(np.array(["F", "O", "P"]), n_ord)),
            "o_totalprice": money(n_ord, 500_000),
            "o_orderdate": _ts(_T0_US + rng.integers(0, span_days, n_ord) * _DAY_US),
            "o_orderpriority": strs(rng.choice(prios, n_ord)),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": money(n_li, 105_000),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": strs(rng.choice(np.array(["A", "N", "R"]), n_li)),
            "l_linestatus": strs(rng.choice(np.array(["O", "F"]), n_li)),
            "l_shipdate": _ts(_T0_US + rng.integers(1, span_days + 95, n_li) * _DAY_US),
        }
    )
    ev_t0 = 1_704_067_200_000_000  # 2024-01-01
    t["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": _ts(ev_t0 + np.sort(rng.integers(0, 30 * _DAY_US, n_ev))),
            "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
            "event_type": strs(rng.choice(ev_types, n_ev)),
            "value": np.round(rng.exponential(50.0, n_ev), 2) + 0.01,
            "props": strs([f'{{"k": {int(k)}}}' for k in rng.integers(0, 100, n_ev)]),
        }
    )
    t["documents"] = documents(seed, 500)
    t["embeddings"] = _embeddings(rng, 500)
    return t


def write_corpus(tables: dict[str, pa.Table], out_dir: str) -> str:
    """One parquet file per table, named like the test corpus."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


def seeded_order(seed: int, names: list[str]) -> list[str]:
    """The query mix in the seed's permuted order."""
    perm = np.random.default_rng(seed + 29).permutation(len(names))
    return [names[i] for i in perm]
