"""Measurement-only synthetic scale-up of a testdata directory.

Round-15 deliverable (VERDICT r14 item 9): separate per-query FIXED costs
(Catalyst planning, codegen, stage scheduling) from DATA costs by timing a
representative query subset at sf0.1 and at a REPLICA× synthetic blow-up
of the same directory. The replica is for MEASUREMENT ONLY: it is written
under /tmp, never read by bench.py, the oracle, or any test — no result
caching, no bench-input changes.

Construction: every table except the bounded dimensions (region, nation)
is concatenated REPLICA times with id columns shifted per replica so keys
stay distinct. Embeddings are perturbed (+/- a few milli-units,
deterministic per replica) and document text is rotated by the replica
index so near-dup pair work scales like a real corpus instead of
exploding quadratically on exact copies (10 identical copies of every
vector/doc would multiply within-bucket pair counts x100 — a workload
change, not a scale-up).

Usage:
    python tools/scaling_synth.py --src /root/testdata/sf0.1 \
        --out /tmp/sfsynth10 --replicas 10
"""

from __future__ import annotations

import argparse
from pathlib import Path

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# id columns to shift per replica, per table (shift = i * span; spans are
# generous powers of ten above each table's key range at sf0.1)
SHIFTS = {
    "customer.parquet": {"c_custkey": 10**6},
    "documents.parquet": {"doc_id": 10**6},
    "embeddings.parquet": {"vec_id": 10**5},
    "events.parquet": {"event_id": 10**8, "user_id": 10**6},
    "lineitem.parquet": {"l_orderkey": 10**7},
    "orders.parquet": {"o_orderkey": 10**7, "o_custkey": 10**6},
    "part.parquet": {"p_partkey": 10**6},
    "supplier.parquet": {"s_suppkey": 10**5},
}
COPY_ONLY = {"region.parquet", "nation.parquet"}


def replica_eps(i: int) -> float:
    """Embedding offset of replica ``i`` ≥ 1: +1, -1, +2, -2, ... milli-units,
    so no two replicas (and no replica and the original) coincide."""
    return (-1) ** (i + 1) * ((i + 1) // 2) / 1000.0


def _replica(t: pa.Table, name: str, i: int) -> pa.Table:
    if i == 0:
        return t
    for col, span in SHIFTS.get(name, {}).items():
        idx = t.schema.get_field_index(col)
        shifted = pc.add(t.column(col), pa.scalar(i * span, t.schema.field(col).type))
        t = t.set_column(idx, t.schema.field(col), shifted)
    if name == "embeddings.parquet":
        # deterministic small perturbation: replicas are near but not exact
        # duplicates (keeps near-dup pair counts ~linear in corpus size)
        emb = t.column("embedding").combine_chunks()
        flat = pc.add(emb.values, pa.scalar(replica_eps(i), emb.values.type))
        arr = pa.ListArray.from_arrays(emb.offsets, flat)
        t = t.set_column(
            t.schema.get_field_index("embedding"),
            t.schema.field("embedding"),
            arr,
        )
    if name == "documents.parquet":
        # rotate text by i chars: shingles diverge between replicas
        texts = t.column("text").to_pylist()
        texts = [x[i:] + x[:i] if x else x for x in texts]
        t = t.set_column(
            t.schema.get_field_index("text"),
            t.schema.field("text"),
            pa.array(texts, type=t.schema.field("text").type),
        )
    return t


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    ap.add_argument("--out", required=True)
    ap.add_argument("--replicas", type=int, default=10)
    args = ap.parse_args()
    out = Path(args.out)
    out.mkdir(parents=True, exist_ok=True)
    for p in sorted(Path(args.src).glob("*.parquet")):
        t = pq.read_table(str(p))
        if p.name in COPY_ONLY:
            pq.write_table(t, str(out / p.name))
            continue
        parts = [_replica(t, p.name, i) for i in range(args.replicas)]
        big = pa.concat_tables(parts)
        pq.write_table(big, str(out / p.name))
        print(f"{p.name}: {t.num_rows} -> {big.num_rows}")


if __name__ == "__main__":
    main()
