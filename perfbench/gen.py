"""Seeded input generators for the benchmark.

Every input is a pure function of ``--seed`` and the size arguments: no
download, no external corpus.  Run as a separate process by ``run.py``
so that generation memory never shows up in the Spark driver's peak RSS:

    python3 perfbench/gen.py snowflake --seed 1 --rows 30000 --batch 500 --out DIR
    python3 perfbench/gen.py corpus --seed 1 --docs 5000 --shards 10 --out DIR

Outputs (parquet for the program, ``truth.npz`` / ``shares.json`` for
the benchmark's own checks -- the program under test never reads them):

- snowflake: ``flat.parquet`` (flat frame with planted exact duplicate
  rows, loaded fresh and also the incremental base store's content),
  ``batch.parquet`` (the incremental batch: replays of stored rows plus
  new orders whose customers mostly exist already).
- corpus: ``corpus.parquet`` and ``shards/part-XX.parquet`` (the same
  documents, split by id range), ``truth.npz`` with each document's
  planted kind and source.
"""

from __future__ import annotations

import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: snowflake shape: lines per order and orders per customer
LINES_PER_ORDER = 4
ORDERS_PER_CUSTOMER = 10
N_NATIONS = 25
N_REGIONS = 5
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
#: share of planted exact duplicate rows in a flat frame
FLAT_DUP_FRAC = 0.02
#: incremental batch: share of rows replaying stored rows, and share of
#: the batch's customers that already exist in the store
REPLAY_FRAC = 0.10
EXISTING_CUSTOMER_FRAC = 0.90

#: corpus document kinds (``truth.npz`` ``kind`` codes)
UNIQUE, EXACT_DUP, TEXT_DUP, EMB_DUP = 0, 1, 2, 3
#: planted share of each duplicate kind
DUP_SHARES = {EXACT_DUP: 0.05, TEXT_DUP: 0.05, EMB_DUP: 0.05}
VOCAB = 5000
DIM = 64
#: words replaced in a text-near duplicate (3-shingle Jaccard ~0.85)
TEXT_EDITS = 2
#: target cosine of an embedding-near duplicate to its source
EMB_COS = 0.99


def _strings(prefix: str, idx: np.ndarray, width: int) -> pa.Array:
    return pa.array([f"{prefix}{i:0{width}d}" for i in idx.tolist()], pa.string())


class _Members:
    """Dimension attributes of every customer/order index (deterministic
    from the rng), so a batch can reuse exactly what the store holds."""

    def __init__(self, rng: np.random.Generator, n_customers: int, n_orders: int):
        self.cust_nation = rng.integers(0, N_NATIONS, n_customers)
        self.cust_segment = rng.integers(0, len(SEGMENTS), n_customers)
        self.order_day = rng.integers(0, 1500, n_orders)
        self.order_priority = rng.integers(0, len(PRIORITIES), n_orders)


def _flat_lines(
    rng: np.random.Generator,
    m: _Members,
    orders: np.ndarray,
    customer_of: np.ndarray,
) -> dict[str, np.ndarray]:
    """One row per line of each order in *orders* (index arrays)."""
    order = np.repeat(orders, LINES_PER_ORDER)
    cust = np.repeat(customer_of, LINES_PER_ORDER)
    n = len(order)
    return {
        "order": order,
        "cust": cust,
        "line_number": np.tile(np.arange(1, LINES_PER_ORDER + 1), len(orders)),
        "quantity": rng.integers(1, 51, n),
        "price_cents": rng.integers(100, 100_000, n),
    }


def _to_table(rows: dict[str, np.ndarray], m: _Members) -> pa.Table:
    order, cust = rows["order"], rows["cust"]
    nation = m.cust_nation[cust]
    epoch = np.datetime64("2020-01-01")
    return pa.table(
        {
            "region_name": _strings("REGION_", nation % N_REGIONS, 1),
            "nation_name": _strings("NATION_", nation, 2),
            "customer_name": _strings("Customer#", cust, 9),
            "customer_segment": pa.array(SEGMENTS[m.cust_segment[cust]]),
            "order_key": _strings("O", order, 10),
            "order_date": pa.array(
                (epoch + m.order_day[order]).astype("datetime64[D]"), pa.date32()
            ),
            "order_priority": pa.array(PRIORITIES[m.order_priority[order]]),
            "line_number": pa.array(rows["line_number"], pa.int64()),
            "quantity": pa.array(rows["quantity"], pa.int64()),
            "price": pa.array(rows["price_cents"] / 100.0, pa.float64()),
        }
    )


def _with_planted_dups(
    rng: np.random.Generator, rows: dict[str, np.ndarray]
) -> tuple[dict[str, np.ndarray], int]:
    n = len(rows["order"])
    n_dup = int(round(n * FLAT_DUP_FRAC))
    pick = rng.integers(0, n, n_dup)
    perm = rng.permutation(n + n_dup)
    out = {k: np.concatenate([v, v[pick]])[perm] for k, v in rows.items()}
    return out, n_dup


def snowflake(seed: int, rows: int, batch: int, out: str) -> dict:
    """Flat frames for the fresh and incremental loader workloads.

    *rows* is the unique line count of the fresh frame and of the
    incremental base; *batch* the incremental batch's row count.
    """
    rng = np.random.default_rng(seed)
    n_orders = max(1, rows // LINES_PER_ORDER)
    n_customers = max(1, n_orders // ORDERS_PER_CUSTOMER)
    # room for the batch's new orders and customers
    n_new_orders = max(1, batch // LINES_PER_ORDER)
    m = _Members(rng, n_customers + n_new_orders, n_orders + n_new_orders)
    base_orders = np.arange(n_orders)
    base_customer_of = rng.integers(0, n_customers, n_orders)
    lines = _flat_lines(rng, m, base_orders, base_customer_of)
    flat, n_dup = _with_planted_dups(rng, lines)
    tbl = _to_table(flat, m)
    # the fresh workload loads this frame; the incremental base store is
    # what a fresh load of it leaves behind
    pq.write_table(tbl, os.path.join(out, "flat.parquet"))

    # incremental batch: replays of stored lines + lines of new orders
    n_replay = int(round(batch * REPLAY_FRAC))
    replay_idx = rng.choice(len(lines["order"]), n_replay, replace=False)
    replay = {k: v[replay_idx] for k, v in lines.items()}
    n_fresh_orders = max(1, (batch - n_replay) // LINES_PER_ORDER)
    new_orders = np.arange(n_orders, n_orders + n_fresh_orders)
    existing = rng.random(n_fresh_orders) < EXISTING_CUSTOMER_FRAC
    customer_of = np.where(
        existing,
        rng.integers(0, n_customers, n_fresh_orders),
        n_customers + rng.integers(0, n_new_orders, n_fresh_orders),
    )
    new_lines = _flat_lines(rng, m, new_orders, customer_of)
    perm = rng.permutation(n_replay + len(new_lines["order"]))
    merged = {k: np.concatenate([replay[k], new_lines[k]])[perm] for k in lines}
    pq.write_table(_to_table(merged, m), os.path.join(out, "batch.parquet"))

    # measured shares: how much of each workload has the targeted property
    stored = [np.unique(lines["cust"]), base_orders]
    stored.append(np.unique(m.cust_nation[stored[0]]))
    stored.append(np.unique(stored[2] % N_REGIONS))
    batch_cust = np.unique(merged["cust"])
    batch_nations = np.unique(m.cust_nation[batch_cust])
    offered = [
        batch_cust,
        np.unique(merged["order"]),
        batch_nations,
        np.unique(batch_nations % N_REGIONS),
    ]
    members = sum(len(o) for o in offered)
    existing_members = sum(
        int(np.isin(o, s).sum()) for o, s in zip(offered, stored)
    )
    shares = {
        "fresh_rows": tbl.num_rows,
        "fresh_planted_dup_rows": n_dup,
        "fresh_planted_dup_frac": n_dup / tbl.num_rows,
        "base_rows": tbl.num_rows,
        "batch_rows": len(merged["order"]),
        "batch_replay_rows": n_replay,
        "batch_replay_frac": n_replay / len(merged["order"]),
        "batch_existing_member_frac": existing_members / members,
        "batch_existing_customer_frac": float(
            np.isin(batch_cust, stored[0]).mean()
        ),
    }
    with open(os.path.join(out, "shares.json"), "w") as fh:
        json.dump(shares, fh)
    return shares


def _random_texts(rng: np.random.Generator, n: int) -> list[np.ndarray]:
    lengths = rng.integers(40, 120, n)
    words = rng.integers(0, VOCAB, int(lengths.sum()))
    return np.split(words, np.cumsum(lengths)[:-1])


def _unit(v: np.ndarray) -> np.ndarray:
    return v / np.linalg.norm(v, axis=-1, keepdims=True)


def corpus(seed: int, docs: int, shards: int, out: str) -> dict:
    """Documents with 64-dim embeddings and planted exact, text-near and
    embedding-near duplicates.

    Every duplicate copies a planted-unique document with a LOWER id and
    gets a lower quality score, so the batch keep-best policy and the
    stream's keep-first admission both keep the source.
    """
    rng = np.random.default_rng(seed)
    kinds = np.full(docs, UNIQUE, np.int8)
    u = rng.random(docs)
    edge = 0.0
    for kind, share in DUP_SHARES.items():
        kinds[(u >= edge) & (u < edge + share)] = kind
        edge += share
    kinds[:10] = UNIQUE  # the first documents have no earlier source
    source = np.full(docs, -1, np.int64)
    uniques = np.flatnonzero(kinds == UNIQUE)
    for i in np.flatnonzero(kinds != UNIQUE):
        earlier = uniques[: np.searchsorted(uniques, i)]
        source[i] = earlier[rng.integers(0, len(earlier))]

    words = _random_texts(rng, docs)
    emb = _unit(rng.standard_normal((docs, DIM)))
    quality = np.where(kinds == UNIQUE, 0.5, 0.0) + rng.random(docs) * 0.5
    noise_scale = np.sqrt(1.0 / EMB_COS**2 - 1.0) / np.sqrt(DIM)
    for i in np.flatnonzero(kinds != UNIQUE):
        s = source[i]
        if kinds[i] == EXACT_DUP:
            words[i] = words[s]
            emb[i] = emb[s]
        elif kinds[i] == TEXT_DUP:
            w = words[s].copy()
            w[rng.choice(len(w), TEXT_EDITS, replace=False)] = rng.integers(
                VOCAB, 2 * VOCAB, TEXT_EDITS
            )
            words[i] = w
            emb[i] = emb[s]
        else:  # EMB_DUP keeps its own random text
            emb[i] = _unit(emb[s] + rng.standard_normal(DIM) * noise_scale)
    texts = [" ".join(f"w{x}" for x in w.tolist()) for w in words]
    # exact duplicates differ in case only: identical after normalization
    for i in np.flatnonzero(kinds == EXACT_DUP):
        texts[i] = texts[i].upper()
    ids = np.arange(docs, dtype=np.int64)
    flat = pa.array(emb.astype(np.float32).ravel())
    tbl = pa.table(
        {
            "id": pa.array(ids),
            "text": pa.array(texts, pa.string()),
            "quality": pa.array(quality, pa.float64()),
            "embedding": pa.FixedSizeListArray.from_arrays(flat, DIM).cast(
                pa.list_(pa.float32())
            ),
        }
    )
    pq.write_table(tbl, os.path.join(out, "corpus.parquet"))
    shard_dir = os.path.join(out, "shards")
    os.makedirs(shard_dir)
    bounds = np.linspace(0, docs, shards + 1).astype(int)
    for k in range(shards):
        pq.write_table(
            tbl.slice(bounds[k], bounds[k + 1] - bounds[k]),
            os.path.join(shard_dir, f"part-{k:02d}.parquet"),
        )
    np.savez(os.path.join(out, "truth.npz"), kind=kinds, source=source)
    shares = {
        "docs": docs,
        "shards": shards,
        "planted_exact_dup_frac": float((kinds == EXACT_DUP).mean()),
        "planted_text_dup_frac": float((kinds == TEXT_DUP).mean()),
        "planted_emb_dup_frac": float((kinds == EMB_DUP).mean()),
    }
    with open(os.path.join(out, "shares.json"), "w") as fh:
        json.dump(shares, fh)
    return shares


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("kind", choices=["snowflake", "corpus"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--rows", type=int, default=0)
    ap.add_argument("--batch", type=int, default=0)
    ap.add_argument("--docs", type=int, default=0)
    ap.add_argument("--shards", type=int, default=10)
    a = ap.parse_args()
    os.makedirs(a.out, exist_ok=True)
    if a.kind == "snowflake":
        snowflake(a.seed, a.rows, a.batch, a.out)
    else:
        corpus(a.seed, a.docs, a.shards, a.out)


if __name__ == "__main__":
    main()
