"""Persisted ANN index lifecycle, end to end — the production pattern
the oracle-checked in-query forms deliberately inline:

1. BUILD once: train the IVF coarse quantizer (+ optional PQ codebooks)
   and write centroids / cell-PARTITIONED assignments / codes;
2. SERVE queries from the prebuilt relations — the broadcast probe join
   on the partition column dynamically prunes the scan to the probe
   cells, so a query touches O(cell) data, not the corpus;
3. INGEST deltas by assigning new vectors against the FROZEN centroids
   (one broadcast argmax — no retrain, no base scan) and appending to
   the index's cell partitions;
4. OBSERVE fragmentation with ann_index_report (O(cells) listing; the
   measured tax is 620 files -> +37% query wall, SCALE.md) and COMPACT
   when flagged: appends add a file per (batch x touched cell), so
   compact_ann_index rewrites each cell back to one file —
   row-identical contents, queries unchanged, listing tax gone.

Run: python examples/ann_index_lifecycle.py [sf_dir] [work_dir]
"""

from __future__ import annotations

import sys
import tempfile

from pyspark.sql import functions as F


def main(sf_dir: str, work_dir: str | None = None) -> dict:
    from iowa_liquor_sales_spark import get_spark
    from iowa_liquor_sales_spark.operators.similarity import (
        assign_new_vectors,
        build_ann_index,
        ivf_topk,
        load_ann_index,
    )
    from iowa_liquor_sales_spark.schemas import read_table

    spark = get_spark(app_name="ann-index-lifecycle")
    path = (work_dir or tempfile.mkdtemp(prefix="ann_idx_")) + "/ann"

    emb = read_table(spark, sf_dir, "embeddings")
    # hold out a delta slice to ingest later (centroid ids stay in base)
    is_delta = (F.col("vec_id") % 10 == 9) & (F.col("vec_id") >= 16)
    base, delta = emb.filter(~is_delta), emb.filter(is_delta)

    # 1. build once
    build_ann_index(base, path, n_cells=16, pq=True)
    idx = load_ann_index(spark, path)

    # 2. serve: prebuilt query (bit-identical to in-query training)
    hits = ivf_topk(base, query_id=7, k=5, nprobe=2, index=idx)
    top = [r["vec_id"] for r in hits.collect()]

    # 3. ingest: frozen-centroid assignment of the delta, appended into
    #    the same cell partitions the queries prune on
    new_rows = assign_new_vectors(delta, idx)
    new_rows.write.mode("append").partitionBy("cell").parquet(
        f"{path}/assignments"
    )
    idx2 = load_ann_index(spark, path)
    n_after_ingest = idx2.assignments.count()

    # 4. observe fragmentation, then compact the appended cells back to
    #    one file per cell when the report flags it
    from iowa_liquor_sales_spark.operators.similarity import (
        ann_index_report,
        compact_ann_index,
    )

    frag_report = ann_index_report(spark, path, files_per_cell_threshold=1.0)
    compact_stats = (
        compact_ann_index(spark, path)
        if frag_report["assignments"]["needs_compaction"]
        else {}
    )

    return {
        "base_vectors": base.count(),
        "delta_vectors": delta.count(),
        "indexed_after_ingest": n_after_ingest,
        "top5": top,
        "cells": load_ann_index(spark, path).centroids.count(),
        "fragmentation": frag_report,
        "compacted": compact_stats,
    }


if __name__ == "__main__":
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    wd = sys.argv[2] if len(sys.argv) > 2 else None
    print(main(sf, wd))
