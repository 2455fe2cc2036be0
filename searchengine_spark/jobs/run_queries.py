"""spark-submit entry point: run queries against a built index.

    spark-submit --py-files sespark.zip searchengine_spark/jobs/run_queries.py \\
        --index <index_dir> --query "inverted index" [--mode compat|wand] [--k 10]
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--index", required=True)
    p.add_argument("--query", required=True)
    p.add_argument("--mode", choices=["compat", "wand"], default="wand")
    p.add_argument("--k", type=int, default=10)
    p.add_argument("--master", default=None)
    args = p.parse_args(argv)

    from searchengine_spark.session import get_spark
    from searchengine_spark.plans.build_index import load_index
    from searchengine_spark.plans.lineage import IndexManifest
    from searchengine_spark.operators.query import is_phrase_query, search_compat
    from searchengine_spark.operators.segments import wand_topk
    from searchengine_spark.functions.textproc import query_tokenize

    # serving session: AQE off — adaptive re-planning adds ~0.5 s of driver
    # round-trips per small query and buys nothing on k-row plans
    spark = get_spark(
        master=args.master,
        app_name="run_queries",
        extra_conf={"spark.sql.adaptive.enabled": "false"},
    )
    idx = load_index(spark, args.index)

    if args.mode == "compat":
        df = search_compat(spark, idx["postings"], idx["lexicon"], idx["documents"], args.query, args.k)
    else:
        # build_index records avgdl = sum(cf) / n_docs in the manifest: a
        # driver-side read instead of an aggregate job over documents
        avgdl = IndexManifest(args.index).stage_metrics()["lexicon"]["avgdl"]
        is_phrase = is_phrase_query(args.query)
        text = args.query[1:-1] if is_phrase else args.query
        df = wand_topk(
            spark,
            idx["segments"],
            idx["lexicon"],
            idx["documents"],
            query_tokenize(text),
            avgdl,
            args.k,
            phrase=is_phrase,
        )
    for row in df.collect():
        print(json.dumps(row.asDict(), default=str))
    return 0


if __name__ == "__main__":
    # bare-script invocation: sys.path[0] is jobs/, not the repo root
    import os as _os
    sys.path.insert(0, _os.path.dirname(_os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))))
    sys.exit(main())
