"""ANN recall evidence: measure recall@k of the approximate indexes
(int8 scalar quantization, product quantization, sign-LSH, IVF) against
exact float cosine top-k on the real embeddings table.

    python tools/ann_recall.py [sf_dir] [k] [n_queries]

Writes ANN_RECALL.json — the quality half of the ANN story (BASELINE.md
carries the memory/speed half): an approximate index is only "done" with
its recall measured, not asserted.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    k = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    nq = int(sys.argv[3]) if len(sys.argv) > 3 else 20

    from kneaddata_spark.operators import similarity
    from kneaddata_spark.session import get_spark

    spark = get_spark(app="ann_recall")
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = e.where(f"vec_id < {nq}")

    def topk_sets(df):
        out = {}
        for r in df.collect():
            out.setdefault(r["query_id"], set()).add(r["nbr_id"])
        return out

    exact = topk_sets(similarity.cosine_topk_bruteforce(e, queries, k=k))

    candidates = {
        "quantized_int8": similarity.quantized_topk(e, queries, k=k),
        "pq_m8x16": similarity.ann_pq_topk(e, queries, k=k),
        "pq_m8x64": similarity.ann_pq_topk(e, queries, k=k, n_codes=64),
        "lsh_sign": similarity.ann_lsh_topk(e, queries, dim=64, k=k),
        "lsh_multiprobe1": similarity.ann_lsh_topk(e, queries, dim=64, k=k, multiprobe=1),
        "lsh_mp1_planes8": similarity.ann_lsh_topk(e, queries, dim=64, k=k, n_planes=8, multiprobe=1),
        "lsh_mp1_planes4": similarity.ann_lsh_topk(e, queries, dim=64, k=k, n_planes=4, multiprobe=1),
        "ivf_nprobe4": similarity.ann_ivf_topk(e, queries, k=k),
        "ivf_nprobe8": similarity.ann_ivf_topk(e, queries, k=k, n_probe=8),
    }
    report = {"sf_dir": sf_dir, "k": k, "n_queries": len(exact), "recall": {}}
    for name, df in candidates.items():
        approx = topk_sets(df)
        hits = sum(len(exact[q] & approx.get(q, set())) for q in exact)
        total = sum(len(exact[q]) for q in exact)
        report["recall"][name] = round(hits / total, 4) if total else None
        print(f"# {name}: recall@{k} = {report['recall'][name]}", file=sys.stderr)

    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "ANN_RECALL.json"), "w") as f:
        json.dump(report, f, indent=1)
    print(json.dumps(report))
    spark.stop()


if __name__ == "__main__":
    main()
