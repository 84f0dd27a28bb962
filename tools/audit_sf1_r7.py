"""sf1 scale audit of the round-7 query additions/changes: run each
once at <checkout>/benchdata/sf1 (and sf0.1 for the ratio), print name,
sf0.1 s, sf1 s, ratio. Completion + plan survival is the point, not
benchmarking precision (see BASELINE.md noise notes).

Round-7 surface: the two new modality parsers (audio RIFF/WAVE, video
AVI/RIFF + real frame-chunk extraction), SentencePiece-style raw BPE,
and the five rows-only->hash-checked upgrades (md5-draw sampling
variants + the layout-compaction invariant audit).
"""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from rel_db_to_graph_spark import get_spark  # noqa: E402
from rel_db_to_graph_spark import queries as Q  # noqa: E402

NEW = ["audio_meta", "video_meta", "frame_sample", "bpe_train_raw",
       "link_split", "neighbor_sample", "negative_sample",
       "hetero_neighbor_sample", "layout_compact"]


def main() -> None:
    spark = get_spark(app_name="audit_sf1_r7")
    spark.sparkContext.setLogLevel("ERROR")
    names = sys.argv[1:] or NEW
    fns = {n: getattr(Q, f"q_{n}") for n in names}
    for n, fn in fns.items():           # warm codegen at smoke SF
        fn(spark, "/root/testdata/sf0.001").write.format("noop") \
            .mode("overwrite").save()
    for n, fn in fns.items():
        ts = {}
        for tag, d in (("sf0.1", "/root/testdata/sf0.1"),
                       ("sf1", os.path.join(ROOT, "benchdata", "sf1"))):
            Q.clear_caches()
            t0 = time.time()
            fn(spark, d).write.format("noop").mode("overwrite").save()
            ts[tag] = time.time() - t0
        print(f"{n}: sf0.1={ts['sf0.1']:.1f}s sf1={ts['sf1']:.1f}s "
              f"ratio={ts['sf1'] / max(ts['sf0.1'], 0.01):.1f}x",
              flush=True)


if __name__ == "__main__":
    main()
