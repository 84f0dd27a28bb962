"""Round-7 BPE scale proof (VERDICT r6 next item 1): train a
tokenizer-realistic number of merges with the batched trainer at sf1,
then tokenize the same corpus with the rank-based tokenizer — and
record jobs, wall-clock, and merges/round in BASELINE.md. Usage:

    python tools/bpe_scale_audit.py [n_merges] [batch] [sf_dir]
"""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F  # noqa: E402

from rel_db_to_graph_spark import get_spark  # noqa: E402
from rel_db_to_graph_spark.operators.bpe import (  # noqa: E402
    bpe_tokenize_ranked,
    bpe_train_batched,
    sequence_counts,
)
from rel_db_to_graph_spark.sources.catalog import load_table  # noqa: E402


def _max_job_id(sc) -> int:
    ids = sc.statusTracker().getJobIdsForGroup(None)
    return max(ids) if ids else 0


def main() -> None:
    n_merges = int(sys.argv[1]) if len(sys.argv) > 1 else 2000
    batch = int(sys.argv[2]) if len(sys.argv) > 2 else 32
    sf_dir = (sys.argv[3] if len(sys.argv) > 3
              else os.path.join(ROOT, "benchdata", "sf1"))
    spark = get_spark(app_name="bpe_scale_audit")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext

    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()
    # SentencePiece-style (pretokenize=False): whole documents are the
    # symbol sequences — the regime where 2k+ merges are learnable and
    # rounds scan a corpus-sized table (see operators/bpe.py).
    vocab = sequence_counts(docs).count()

    j0 = _max_job_id(sc)
    t0 = time.time()
    merges = bpe_train_batched(docs, n_merges=n_merges, batch=batch,
                               pretokenize=False)
    t_train = time.time() - t0
    jobs_train = _max_job_id(sc) - j0

    t1 = time.time()
    total = (bpe_tokenize_ranked(docs, merges, pretokenize=False)
             .agg(F.sum("n_pieces").alias("s")).collect()[0]["s"])
    t_tok = time.time() - t1
    jobs_tok = _max_job_id(sc) - j0 - jobs_train

    print(f"BPE_SCALE sf_dir={sf_dir} docs={n_docs} vocab={vocab} "
          f"merges={len(merges)}/{n_merges} batch={batch} "
          f"train_s={t_train:.1f} train_jobs={jobs_train} "
          f"merges_per_job={len(merges) / max(jobs_train, 1):.2f} "
          f"tokenize_s={t_tok:.1f} tokenize_jobs={jobs_tok} "
          f"total_pieces={total}", flush=True)


if __name__ == "__main__":
    main()
