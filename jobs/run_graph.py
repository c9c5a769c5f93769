"""spark-submit entry point for the non-PageRank graph algorithms.

    python jobs/make_pyfiles.py          # -> dist/rad_ecg_spark.zip
    spark-submit --py-files dist/rad_ecg_spark.zip jobs/run_graph.py \
        --algo {components|labelprop|triangles} \
        --edges /path/to/edges_parquet --out /path/to/result \
        [--max-iter N] [--partitions P]

Input: parquet with columns (src, dst); outputs:
  components -> (id, component), labelprop -> (id, label),
  triangles  -> (id, tri_count).
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--algo", required=True,
                    choices=["components", "labelprop", "triangles"])
    ap.add_argument("--edges", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--max-iter", type=int, default=50)
    ap.add_argument("--partitions", type=int)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName(f"linkgraph-{args.algo}").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    edges = spark.read.parquet(args.edges)

    info: dict = {"algo": args.algo}
    if args.algo == "components":
        from rad_ecg_spark.operators.components import connected_components

        out = connected_components(
            edges, max_iter=args.max_iter, num_partitions=args.partitions
        )
    elif args.algo == "labelprop":
        from rad_ecg_spark.operators.graph_core import LoopStats
        from rad_ecg_spark.operators.labelprop import label_propagation

        st = LoopStats()
        out = label_propagation(
            edges, max_iter=args.max_iter, num_partitions=args.partitions, stats=st
        )
        info.update(iterations=st.iterations, converged=st.converged,
                    changes=st.deltas)
    else:
        from rad_ecg_spark.operators.triangles import triangles

        out = triangles(edges)
    out.write.mode("overwrite").parquet(args.out)
    info["rows"] = spark.read.parquet(args.out).count()
    print(json.dumps(info))


if __name__ == "__main__":
    main()
