"""Corpus statistics — the profiling pass a training-data pipeline runs
before and after every curation step (what's in the corpus, how long are
the docs, which terms dominate), in two tiers:

  * EXACT tier (oracle-checked): distinct counts, exact percentiles,
    decimal-exact means, exact heavy hitters. Affordable up to the
    billions-of-rows range (one shuffle each); the correctness anchor.
  * APPROX tier (the 100 TB path): HyperLogLog distinct
    (approx_count_distinct), t-digest-ish percentiles
    (percentile_approx). One map pass + an O(sketch) merge — no
    full shuffle of the data, bounded memory per executor. Tested
    against the exact tier with relative-error bounds, not an oracle
    (sketches are estimation, not computation).

Percentile parity note: exact percentiles are only oracle-safe at
DYADIC quantiles (0.25/0.5/0.75) over integer-valued columns — the
interpolation ``a + f*(b-a)`` then produces exactly-representable
doubles, so Spark's and DuckDB's (possibly differently-associated)
formulas agree bit-for-bit. Arbitrary quantiles over floats would
diverge in the last ulp.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rel_db_to_graph_spark.operators.text import normalize, token_count, tokens


def corpus_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """One exact profile row: doc/lang/source cardinalities, token-count
    quartiles (dyadic — see module note), decimal-exact mean, extremes.
    Single aggregation = one shuffle of partial aggregates."""
    staged = docs.select(
        "lang", "source",
        token_count(normalize(F.col(text_col))).cast("long").alias("_nt"))
    return staged.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        F.sum("_nt").alias("total_tokens"),
        F.percentile("_nt", 0.25).alias("tok_p25"),
        F.percentile("_nt", 0.5).alias("tok_p50"),
        F.percentile("_nt", 0.75).alias("tok_p75"),
        (F.sum("_nt") / F.count("*")).alias("tok_mean"),
        F.min("_nt").alias("tok_min"),
        F.max("_nt").alias("tok_max"),
    )


def corpus_stats_approx(docs: DataFrame, text_col: str = "text",
                        rsd: float = 0.05) -> DataFrame:
    """Sketch twin of corpus_stats: HLL cardinalities (relative std dev
    ``rsd``) and approximate quartiles. The plan is map-side sketches +
    one tiny merge — the profile you can afford on every 100 TB
    snapshot. Accuracy is pinned by tests against the exact tier."""
    staged = docs.select(
        "lang", "source",
        token_count(normalize(F.col(text_col))).cast("long").alias("_nt"))
    return staged.agg(
        F.count("*").alias("n_docs"),
        F.approx_count_distinct("lang", rsd).alias("n_langs"),
        F.approx_count_distinct("source", rsd).alias("n_sources"),
        F.sum("_nt").alias("total_tokens"),
        # scalar quartile columns (not one array<long>): the driver
        # harness canonicalizes results through pandas sort_values,
        # which cannot hash list cells (r5 RED row). Same shape as
        # corpus_stats_approx_err's stack() output.
        F.percentile_approx("_nt", 0.25, 10_000).alias("tok_p25"),
        F.percentile_approx("_nt", 0.5, 10_000).alias("tok_p50"),
        F.percentile_approx("_nt", 0.75, 10_000).alias("tok_p75"),
        F.min("_nt").alias("tok_min"),
        F.max("_nt").alias("tok_max"),
    )


def corpus_stats_approx_err(docs: DataFrame, text_col: str = "text",
                            rsd: float = 0.05,
                            tol: float = 0.15) -> DataFrame:
    """Driver-visible accuracy audit of the sketch tier: one row per
    metric with (metric, exact, within_tol). The Spark side computes
    BOTH tiers in a single aggregation and checks |approx - exact| <=
    tol * |exact|; the DuckDB twin recomputes the exact side and claims
    within_tol = TRUE — so a sketch drifting past tolerance flips the
    boolean and the driver's hash check goes red. This promotes the
    sketch-accuracy contract from a pytest-only bound to a per-round
    CORRECTNESS row.

    tol covers both sketches: HLL at rsd=0.05 is ~±15% at 3 sigma;
    percentile_approx(accuracy=10k) is rank-exact to 1e-4 here.
    """
    staged = docs.select(
        "lang", "source",
        token_count(normalize(F.col(text_col))).cast("long").alias("_nt"))
    agg = staged.agg(
        F.countDistinct("lang").alias("e_langs"),
        F.approx_count_distinct("lang", rsd).alias("a_langs"),
        F.countDistinct("source").alias("e_sources"),
        F.approx_count_distinct("source", rsd).alias("a_sources"),
        F.percentile("_nt", 0.25).alias("e_p25"),
        F.percentile("_nt", 0.5).alias("e_p50"),
        F.percentile("_nt", 0.75).alias("e_p75"),
        F.percentile_approx("_nt",
                            F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)),
                            10_000).alias("a_q"),
    )
    pairs = agg.select(F.expr(
        "stack(5,"
        " 'n_langs', cast(e_langs as double), cast(a_langs as double),"
        " 'n_sources', cast(e_sources as double), cast(a_sources as double),"
        " 'tok_p25', cast(e_p25 as double), cast(a_q[0] as double),"
        " 'tok_p50', cast(e_p50 as double), cast(a_q[1] as double),"
        " 'tok_p75', cast(e_p75 as double), cast(a_q[2] as double)"
        ") as (metric, exact, approx)"))
    # exact is rounded to 6 dp (matching the other oracle twins): the
    # raw F.percentile interpolation must otherwise hash-match DuckDB's
    # quantile_cont bit-for-bit, and the two can diverge in the last ulp.
    return pairs.select(
        "metric", F.round(F.col("exact"), 6).alias("exact"),
        (F.abs(F.col("approx") - F.col("exact"))
         <= F.lit(tol) * F.abs(F.col("exact"))).alias("within_tol"))


def tfidf_keywords(docs: DataFrame, k: int = 3, id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Top-k TF-IDF keywords per document: (doc_id, rank, term, score).

    The classic two-pass shape: one groupBy((doc, term)) for term
    frequencies, one groupBy(term) for document frequencies (distinct
    docs per term — partial-aggregated, shuffles (term, doc) pairs
    once), a broadcast-sized N, then a per-doc window rank. The df
    table is vocabulary-sized; it joins back onto the tf table as a
    broadcast when its size is under ``autoBroadcastJoinThreshold``
    (statically, or at runtime through AQE's join conversion), and as a
    shuffled join otherwise — no hint forces an unbounded broadcast.

    idf is INTEGER-QUANTIZED — idf_milli = (1000·N) div df, score =
    tf · idf_milli — rather than a float log: the ranking must be
    bit-identical across engines for the oracle gate, and last-ulp
    differences in libm log() would make near-tie ranks engine-
    dependent. Monotonicity in (tf, 1/df) — all a keyword rank needs —
    is preserved; ties break by term for a total order.
    """
    # Optimization round 13 (guide §2.3/§2.5; r12 verdict item 5): ONE
    # corpus-sized exchange total — the exploded token stream, keyed on
    # doc_id. Tokenization runs ONCE, below the exchange; everything
    # downstream reuses it (AQE exchange reuse across both branches):
    #   * the tf aggregate needs clustering by (doc_id, term) —
    #     hash(doc_id) already provides it, so no tf exchange;
    #   * the per-doc rank window is keyed on doc_id — same exchange;
    #   * document frequency is a groupBy(term) of the tf table — its
    #     OWN exchange carries VOCABULARY-sized partial counts (map-side
    #     combine makes a stopword-grade hot term one row per partition,
    #     not one giant buffered group), and the result joins back.
    #     The r12 window-df shape shuffled the FULL tf table by term
    #     with no partial aggregation, so one hot term became a single
    #     unsplittable WindowExec group (AQE skew handling never applies
    #     to windows) — fine at test SF, a straggler cliff at corpus
    #     scale.
    # Net, while df broadcasts: 1 corpus-sized shuffle instead of the r12
    # shape's 3 (tf by (doc, term), by term, by doc), skew-safe at every
    # key. df values are identical (tf is one row per (doc, term), so
    # count-per-term over tf IS the distinct-doc count). The df join
    # carries no broadcast hint: the vocabulary aggregate has no size
    # bound, so the threshold (and AQE's runtime conversion on the
    # materialized size) decides, and above it the join falls back to a
    # shuffle of tf by term. The one-row n_docs stays hinted.
    terms = (docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens(normalize(F.col(text_col)))).alias("term"))
        .filter(F.col("term") != "")
        .repartition(F.col("doc_id")))
    tf = terms.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = docs.select(F.countDistinct(F.col(id_col)).alias("_n"))
    from pyspark.sql import Window
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (tf.join(df_, "term")
            .crossJoin(F.broadcast(n_docs))
            .withColumn("score",
                        F.col("tf")
                        * F.expr("(1000 * _n) div df").cast("long"))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("doc_id", "rank", "term", "score"))


def term_topk(docs: DataFrame, k: int = 20,
              text_col: str = "text") -> DataFrame:
    """Exact heavy hitters: top-k terms by frequency with a total
    (count desc, term) tie-break. explode → partial-agg groupBy (map-
    side combine shrinks the shuffle to distinct terms per partition) →
    TakeOrdered of k rows. The exact baseline a count-min/SpaceSaving
    sketch would approximate at stream scale."""
    terms = (docs
             .select(F.explode(tokens(normalize(F.col(text_col))))
                     .alias("term"))
             .filter(F.col("term") != ""))
    return (terms.groupBy("term").agg(F.count("*").alias("n"))
            .orderBy(F.desc("n"), "term")
            .limit(int(k)))


def cms_hash(term, row: int, width: int):
    """Count-min row hash: first 4 hex chars of md5(term || '|row')
    parsed base 16, mod width — bit-identical in DuckDB (the
    hash_bucket family's construction, one independent row-seed per
    sketch row)."""
    return (F.conv(F.substring(F.md5(F.concat(term, F.lit(f"|{row}"))),
                               1, 4), 16, 10).cast("long")
            % F.lit(int(width)))


def cms_counters(docs: DataFrame, width: int = 256, depth: int = 4,
                 text_col: str = "text") -> DataFrame:
    """(row, bucket, cnt) — the depth x width count-min sketch of the
    corpus term stream, built in ONE map + groupBy pass: each term
    fans out to its depth (row, bucket) cells via an inline array
    explode (no re-scan per row), and the groupBy carries at most
    depth*width counter cells out of each partition (map-side combine).
    Fixed memory regardless of vocabulary — the stream-scale stand-in
    for an exact term count."""
    terms = (docs
             .select(F.explode(tokens(normalize(F.col(text_col))))
                     .alias("term"))
             .filter(F.col("term") != ""))
    cells = F.explode(F.array(*[
        F.struct(F.lit(d).alias("row"),
                 cms_hash(F.col("term"), d, width).alias("bucket"))
        for d in range(depth)]))
    return (terms.select(cells.alias("rb"))
            .select("rb.row", "rb.bucket")
            .groupBy("row", "bucket").agg(F.count("*").alias("cnt")))


def cms_audit(docs: DataFrame, k: int = 20, width: int = 256,
              depth: int = 4, text_col: str = "text") -> DataFrame:
    """(term, exact_n, est_n, is_upper_bound) for the exact top-k terms:
    est = min over the term's depth counters. The count-min guarantee
    (est >= exact, ALWAYS — collisions only add) is emitted as an
    asserted-true column, so any estimator bug hash-mismatches the
    oracle and turns the driver board red — the same driver-visible
    accuracy-contract pattern as corpus_stats_approx_err. The probe
    join is k*depth rows against the depth*width counter table — both
    broadcast-sized by construction."""
    counters = cms_counters(docs, width=width, depth=depth,
                            text_col=text_col)
    top = term_topk(docs, k=k, text_col=text_col)
    probes = (top.select(
        "term", F.col("n").alias("exact_n"),
        F.explode(F.array(*[
            F.struct(F.lit(d).alias("row"),
                     cms_hash(F.col("term"), d, width).alias("bucket"))
            for d in range(depth)])).alias("rb"))
        .select("term", "exact_n", "rb.row", "rb.bucket"))
    return (probes.join(counters, ["row", "bucket"])
            .groupBy("term", "exact_n")
            .agg(F.min("cnt").alias("est_n"))
            .select("term", "exact_n", "est_n",
                    (F.col("est_n") >= F.col("exact_n"))
                    .alias("is_upper_bound")))


def bm25_retrieval(docs: DataFrame, probe_ids: tuple[int, ...] = (0, 7, 42),
                   n_query_terms: int = 3, k: int = 5,
                   id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Query-by-example BM25 retrieval: for each probe document, take
    its top-``n_query_terms`` TF-IDF keywords as the query and return
    the ``k`` highest-BM25 corpus documents (the probe itself
    excluded). This is the retrieval shape a training-data pipeline
    runs for decontamination triage ("which corpus docs does this eval
    document pull back?") and for quality-neighborhood audits — the
    lexical complement of the embedding ANN tier.

    Plan shape (the inverted-index algebra, no index structure
    needed): ONE corpus scan builds the postings (doc_id, term, tf);
    doc lengths and document frequencies are re-aggregations of that
    postings frame (vocabulary- and corpus-row-sized, never wider);
    the query table — probe postings ranked by the same
    integer-quantized TF-IDF as tfidf_keywords — is ≤ |probes| ×
    n_query_terms rows and BROADCASTS onto the postings, so the probe
    is a broadcast hash semi-prune of the posting lists, not a corpus
    shuffle. Only docs containing a query term survive to the
    length-join and the per-query top-k window. At 100 TB the
    tf/df/dl frames are the index statistics a deployment would
    pre-materialize once per corpus snapshot (they are pure
    aggregations, incrementally maintainable), and per-query work is
    O(matching postings).

    Scoring is INTEGER-EXACT (k1 = 1.2, b = 0.75 folded into a single
    integer rational) so the ranking is bit-identical across engines —
    same policy as tfidf_keywords' idf_milli, for the same reason
    (libm log / float-sum order would make near-ties engine-
    dependent). With avgdl = T/N (T total tokens, N docs):

        term score = idf · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))

    multiplied through by 10·T and scaled ×1000:

        score_milli = (idf_milli · tf · 22000 · T)
                      div (10·T·tf + 3·T + 9·dl·N)

    with idf_milli = (1000·N) div df. All-long arithmetic: the
    numerator stays < 2^63 through sf0.1 shapes (bounded by
    1000·N·dl_max·22000·T); at corpus scales beyond that the same
    expression runs in decimal(38,0) — the ranking semantics are
    unchanged. Summing per-term LONG scores is order-independent, so
    the aggregate needs no float-sum discipline.
    """
    from pyspark.sql import Window

    from rel_db_to_graph_spark.operators.text import normalize, tokens

    # one corpus-sized exchange keyed on doc_id (optimization round 13
    # — same restructure as tfidf_keywords, see there for the skew
    # rationale): tf, dl and the final doc-keyed join all reuse it; only
    # the vocabulary-sized df aggregate and the results-sized per-query
    # rollup shuffle again
    terms = (docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens(normalize(F.col(text_col)))).alias("term"))
        .filter(F.col("term") != "")
        .repartition(F.col("doc_id")))
    tf = terms.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    tot = dl.agg(F.count("*").alias("n_docs"),
                 F.sum("dl").alias("total_toks"))

    wq = Window.partitionBy("query_doc").orderBy(
        F.desc("tfidf"), F.asc("term"))
    qterms = (tf.filter(F.col("doc_id").isin(*[int(p) for p in probe_ids]))
              .withColumnRenamed("doc_id", "query_doc")
              .join(df_, "term")
              .crossJoin(F.broadcast(tot.select("n_docs")))
              .withColumn("idf_milli", F.expr("(1000 * n_docs) div df"))
              .withColumn("tfidf", F.col("tf") * F.col("idf_milli"))
              .withColumn("qr", F.row_number().over(wq))
              .filter(F.col("qr") <= int(n_query_terms))
              .select("query_doc", "term", "idf_milli"))

    scored = (tf.join(F.broadcast(qterms), "term")
              .filter(F.col("doc_id") != F.col("query_doc"))
              .join(dl, "doc_id")
              .crossJoin(F.broadcast(tot))
              .withColumn("score_milli", F.expr(
                  "(idf_milli * tf * 22000 * total_toks) div "
                  "(10 * total_toks * tf + 3 * total_toks"
                  " + 9 * dl * n_docs)"))
              .groupBy("query_doc", "doc_id")
              .agg(F.sum("score_milli").alias("score_milli")))
    wk = Window.partitionBy("query_doc").orderBy(
        F.desc("score_milli"), F.asc("doc_id"))
    return (scored.withColumn("rank", F.row_number().over(wk))
            .filter(F.col("rank") <= int(k))
            .select("query_doc", "rank", "doc_id", "score_milli"))
