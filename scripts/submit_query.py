#!/usr/bin/env python
"""spark-submit entrypoint: top-k BM25 queries over a built index.

    spark-submit --py-files dist/dlkp_spark.zip scripts/submit_query.py \
        --index <index dir> --terms spark join fast [--k 10] [--mode wand|tree]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index", required=True)
    ap.add_argument("--terms", nargs="+", required=True)
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--mode", choices=["wand", "tree"], default="wand")
    args = ap.parse_args()

    from dlkp_spark.config import BM25Params
    from dlkp_spark.contract import ensure_shipped
    from dlkp_spark.query.wand import batch_topk, wand_topk_treereduce
    from dlkp_spark.session import get_spark

    spark = get_spark("dlkp_spark_query")
    ensure_shipped(spark)
    p = BM25Params()
    if args.mode == "tree":
        rows = wand_topk_treereduce(spark, args.index, args.terms, p, k=args.k)
        out = [{"rank": r, "doc_id": d, "score": s} for r, d, s in rows]
    else:
        df = batch_topk(spark, args.index, [(0, args.terms)], p, k=args.k)
        out = [{"rank": r["rank"], "doc_id": r["doc_id"], "score": r["score"]}
               for r in df.orderBy("rank").collect()]
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
