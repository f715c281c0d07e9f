"""Seeded input generators for the benchmark workloads.

Everything the engine sees is produced here from the workload seed: the
same seed always gives byte-identical inputs. Generators write plain
parquet / JSON with pyarrow and numpy only, so input generation never
runs through the engine under test.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------------------
# analytics: TPC-H-shaped star schema + events + documents, same schema
# as the TESTDATA.md tables (row counts scale with ``sf`` like TPC-H)
# --------------------------------------------------------------------------

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

_DAY_US = 86_400_000_000
_EPOCH_1995 = 788_918_400_000_000  # 1995-01-01T00:00:00Z in µs
_EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in µs


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write region/nation/customer/supplier/part/orders/lineitem/events/
    documents parquet files under ``out_dir``; returns the row count per
    table."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(50, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(50, int(200_000 * sf))
    n_ord = max(200, int(1_500_000 * sf))
    n_line = max(800, int(6_000_000 * sf))
    n_evt = max(500, int(1_000_000 * sf))

    def put(name: str, cols: dict[str, pa.Array]) -> None:
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    put("region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    })
    put("nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    put("customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust)),
    })
    put("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })
    put("part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array(
            [f"{a} {b}" for a, b in zip(rng.choice(P_ADJ, n_part), rng.choice(P_NOUN, n_part))]
        ),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(P_TYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)),
    })
    put("orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
        "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2404, n_ord) * _DAY_US),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord)),
    })
    qty = rng.integers(1, 51, n_line).astype("float64")
    put("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_line)),
        "l_shipdate": _ts(_EPOCH_1995 + rng.integers(1, 2500, n_line) * _DAY_US),
    })
    put("events", {
        "event_id": pa.array(np.arange(n_evt), pa.int64()),
        "ts": _ts(_EPOCH_2024 + np.sort(rng.integers(0, 30 * _DAY_US, n_evt))),
        "user_id": pa.array(rng.integers(0, max(10, n_evt // 66), n_evt), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_evt)),
        "value": pa.array(_money(rng, 0.01, 490.0, n_evt)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]),
    })
    # documents: texts with planted duplicate groups plus the
    # lang/source/n_chars columns of the TESTDATA schema
    texts = documents(seed, max(200, int(500_000 * sf)))
    n_docs = len(texts)
    put("documents", {
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(["en", "de", "fr", "es", "zh"], n_docs)),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    return {
        "customer": n_cust, "supplier": n_supp, "part": n_part,
        "orders": n_ord, "lineitem": n_line, "events": n_evt, "documents": n_docs,
    }


# --------------------------------------------------------------------------
# documents: text with planted duplicate groups
# --------------------------------------------------------------------------

_STOP = ["the", "and", "of", "to", "in", "a", "is"]
_SYLL = ["ka", "lo", "mi", "ten", "ra", "su", "vo", "ne", "pi", "dor", "el", "qua", "zi", "bra"]


def _vocab(rng: np.random.Generator, n: int) -> list[str]:
    words = set()
    while len(words) < n:
        k = int(rng.integers(2, 4))
        words.add("".join(rng.choice(_SYLL, k)))
    return sorted(words)


def documents(seed: int, n_docs: int) -> list[str]:
    """Generate ``n_docs`` document texts; position i is document id i.

    * ~85% prose-like documents (stopword-rich), ~15% junk (digits and
      punctuation);
    * exact groups: 2-4 byte-identical copies of a prose document;
    * near groups: 2-3 variants of a prose document that differ only by
      one appended word each (word-3-shingle Jaccard >= 0.97).

    Ids are shuffled so planted groups are scattered over the id space.
    """
    rng = np.random.default_rng([seed, 2])
    vocab = _vocab(rng, 1500)
    n_groups = max(2, n_docs // 60)

    stop_arr, vocab_arr = np.array(_STOP), np.array(vocab)
    punct = np.array(list(".,;:!?#"))

    def prose() -> str:
        n = int(rng.integers(60, 110))
        words = np.where(
            rng.random(n) < 0.3,
            stop_arr[rng.integers(0, len(stop_arr), n)],
            vocab_arr[rng.integers(0, len(vocab_arr), n)],
        )
        cuts = [0, *np.cumsum(rng.integers(8, 16, n // 8 + 1))]
        return " ".join(
            " ".join(words[a:b]).capitalize() + "." for a, b in zip(cuts, cuts[1:]) if a < n
        )

    def junk() -> str:
        n = int(rng.integers(20, 60))
        nums = rng.integers(0, 99999, n).astype(str)
        return " ".join(np.char.add(nums, punct[rng.integers(0, len(punct), n)]))

    texts: list[str] = []
    for _ in range(n_groups):
        texts.extend([prose()] * int(rng.integers(2, 5)))
    for _ in range(n_groups):
        base = prose()
        texts.extend(
            [base] + [f"{base} {vocab[int(rng.integers(0, len(vocab)))]}x{v}"
                      for v in range(1, int(rng.integers(2, 4)))]
        )
    while len(texts) < n_docs:
        texts.append(junk() if rng.random() < 0.15 else prose())
    return [texts[int(i)] for i in np.argsort(rng.permutation(len(texts)))]


# --------------------------------------------------------------------------
# predict: request targets drawn from the materials corpus
# --------------------------------------------------------------------------


def write_predict_targets(
    out_dir: str, seed: int, materials_path: str, n_formulas: int, n_structures: int
) -> tuple[list[str], list[str]]:
    """Draw ``n_formulas`` corpus formulas and ``n_structures`` corpus
    structures (written as database-JSON records, the CLI's ``-s`` input).
    Returns (formulas, structure file paths)."""
    import pyarrow.dataset as ds

    rng = np.random.default_rng([seed, 3])
    os.makedirs(out_dir, exist_ok=True)
    table = ds.dataset(materials_path).to_table(columns=["mp_id", "formula", "structure"])
    mp_ids = table.column("mp_id").to_pylist()
    order = sorted(range(len(mp_ids)), key=lambda i: mp_ids[i])
    picks = [order[int(i)] for i in rng.permutation(len(order))[: n_formulas + n_structures]]
    formulas = [table.column("formula")[i].as_py() for i in picks[:n_formulas]]
    paths = []
    for k, i in enumerate(picks[n_formulas:]):
        st = table.column("structure")[i].as_py()
        rec = {
            "structure": {
                "lattice": {"matrix": st["lattice"]["matrix"]},
                "sites": [
                    {"xyz": s["xyz"], "species": [{"element": s["species"][0]["element"]}]}
                    for s in st["sites"]
                ],
            }
        }
        path = os.path.join(out_dir, f"structure_{k}.json")
        with open(path, "w") as fw:
            json.dump(rec, fw)
        paths.append(path)
    return formulas, paths
