"""Training-data pipeline operators, part 2 (SURVEY.md §2.11 extension).

Four corpus-preparation stages every large-scale LLM data pipeline runs
between raw text and the tokenizer, each expressed as declarative Spark with
a DuckDB oracle twin, plus the IVF-PQ similarity composition:

- **sequence packing** (concat-then-chunk): the global-ordered prefix sum is
  computed by the DISTRIBUTED two-phase operator (operators/prefix.py), not
  a single-partition window — the difference between a demo and a 100 TB op.
- **domain mixing**: deterministic hash-bucket sampling at per-source rates
  (the data-mixture step of corpus assembly); never rand(), so the sample is
  stable across runs, engines, and partitionings.
- **decontamination**: drop-list by word-4-gram overlap against a benchmark
  subset (the eval-leakage guard); the benchmark side is broadcast — at any
  corpus scale the benchmark set is small by construction.
- **repetition ratios** (Gopher-style quality rule): per-doc top-2-gram mass
  and duplicate-2-gram mass — one explode + two aggregations, map-side
  combinable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cbde_mapreduce_spark.functions.texttools import shingles, tokens
from cbde_mapreduce_spark.operators.ckpt import RoundState
from cbde_mapreduce_spark.plans.registry import query
from cbde_mapreduce_spark.sources import load_table

SEQ_BUDGET = 256  # tokens per packed training sequence

#: per-source sampling rates (percent) for the domain-mix query: src0..src19
#: get 10..55% in a fixed pattern — a stand-in for the hand-tuned mixture
#: weights of a real corpus assembly.
MIX_RATES = [(f"src{i}", 10 + 5 * (i % 10)) for i in range(20)]
_MIX_VALUES = ", ".join(f"('{s}', {r})" for s, r in MIX_RATES)


@query(
    "pack_sequences_chunked",
    oracle=f"""
        WITH t AS (SELECT doc_id, len(string_split(text, ' '))::bigint AS n_tok
                   FROM documents),
        c AS (SELECT doc_id, n_tok,
                     coalesce(sum(n_tok) OVER (ORDER BY doc_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                              0)::bigint AS start_off
              FROM t)
        SELECT (start_off // {SEQ_BUDGET})::bigint AS seq_id,
               count(*)        AS n_docs,
               sum(n_tok)::bigint AS seq_tokens,
               min(doc_id)     AS first_doc,
               max(doc_id)     AS last_doc
        FROM c GROUP BY 1
    """,
    category="llm_pipeline",
)
def pack_sequences_chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-then-chunk sequence packing: documents are concatenated in
    doc_id order and cut into fixed token-budget training sequences; a doc
    belongs to the sequence where its first token lands.

    The global running token offset comes from
    ``operators.prefix.exclusive_prefix_sum`` — range-partitioned two-phase
    prefix sum, P-way parallel at every data-bearing stage (the naive
    ``Window.orderBy`` twin would funnel the corpus into one partition;
    equality of the two is asserted in tests/test_llm_pipeline.py).
    """
    from cbde_mapreduce_spark.operators.prefix import exclusive_prefix_sum

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", F.size(tokens("text")).cast("bigint").alias("n_tok"))
    c = exclusive_prefix_sum(t, "doc_id", "n_tok", out_col="start_off")
    return (
        c.withColumn("seq_id", F.floor(F.col("start_off") / SEQ_BUDGET).cast("bigint"))
        .groupBy("seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("seq_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


@query(
    "domain_mix_sample",
    oracle=f"""
        WITH rates(source, rate) AS (VALUES {_MIX_VALUES}),
        b AS (SELECT source,
                     (ascii(substr(md5(text), 1, 1)) * 256
                      + ascii(substr(md5(text), 2, 1))) % 100 AS bucket
              FROM documents)
        SELECT source,
               count(*) AS n_total,
               sum(CASE WHEN bucket < rate THEN 1 ELSE 0 END)::bigint AS n_kept
        FROM b JOIN rates USING (source)
        GROUP BY source
    """,
    category="llm_pipeline",
)
def domain_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain mixing: deterministic per-source downsampling at configured
    mixture rates — keep iff content-hash bucket < rate(source).

    Hash-bucket sampling (same md5 trick as ``dataset_split_assignment``)
    instead of rand(): reproducible across engines and partitionings, and a
    re-run with changed rates keeps maximal overlap with the previous
    sample. The rate table is side-data: broadcast joined.
    """
    docs = load_table(spark, sf_dir, "documents")
    rates = spark.createDataFrame(MIX_RATES, "source string, rate int")
    h = F.md5(F.encode("text", "UTF-8"))
    bucket = (
        F.ascii(F.substring(h, 1, 1)) * 256 + F.ascii(F.substring(h, 2, 1))
    ) % 100
    return (
        docs.select("source", bucket.alias("bucket"))
        .join(F.broadcast(rates), "source")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(F.when(F.col("bucket") < F.col("rate"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_kept"),
        )
    )


@query(
    "decontaminate_docs",
    oracle="""
        WITH g AS (SELECT doc_id,
                          unnest(list_transform(
                              range(1, len(string_split(text, ' ')) - 2),
                              i -> array_to_string(
                                  list_slice(string_split(text, ' '), i, i + 3),
                                  ' '))) AS ng
                   FROM documents),
        bench AS (SELECT DISTINCT ng FROM g WHERE doc_id % 50 = 0),
        hits AS (SELECT DISTINCT d.doc_id, d.ng
                 FROM g d JOIN bench USING (ng)
                 WHERE d.doc_id % 50 <> 0)
        SELECT doc_id, count(*) AS n_shared
        FROM hits GROUP BY doc_id
    """,
    category="llm_pipeline",
)
def decontaminate_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing any word
    4-gram with the benchmark subset (doc_id % 50 == 0 stands in for the
    eval set), reporting how many distinct 4-grams leak.

    Scale shape: the benchmark n-gram set is SMALL by construction (eval
    suites are thousands of docs, not billions) ⇒ broadcast it; the corpus
    side is one explode + broadcast-hash semi-join + groupBy — no shuffle of
    document bodies. 19 docs flagged at sf0.01 (non-vacuous, selective).
    """
    docs = load_table(spark, sf_dir, "documents")
    # materialize tokens before shingling: the shingle expression references
    # the array ~4x per gram; an inlined split() would re-evaluate each time
    toked = docs.select("doc_id", tokens("text").alias("__toks"))
    grams = toked.select(
        "doc_id", F.explode(shingles(F.col("__toks"), 4)).alias("ng")
    )
    bench = (
        grams.filter(F.col("doc_id") % 50 == 0).select("ng").distinct()
    )
    hits = (
        grams.filter(F.col("doc_id") % 50 != 0)
        .join(F.broadcast(bench), "ng")
        .select("doc_id", "ng")
        .distinct()
    )
    return hits.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shared"))


@query(
    "repetition_ratio_docs",
    oracle="""
        WITH g AS (SELECT doc_id,
                          unnest(list_transform(
                              range(1, len(string_split(text, ' '))),
                              i -> array_to_string(
                                  list_slice(string_split(text, ' '), i, i + 1),
                                  ' '))) AS ng
                   FROM documents),
        c AS (SELECT doc_id, ng, count(*) AS cnt FROM g GROUP BY doc_id, ng)
        SELECT doc_id,
               round(max(cnt) / sum(cnt), 6)        AS top_frac,
               round(1.0 - count(*) / sum(cnt), 6)  AS dup_frac
        FROM c GROUP BY doc_id
    """,
    category="llm_pipeline",
)
def repetition_ratio_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals per document: the mass of the
    single most frequent word 2-gram (`top_frac`) and the mass sitting in
    duplicate 2-grams (`dup_frac`) — high values mark boilerplate/spam.

    One explode + two groupBys, both map-side combinable; no joins.
    """
    docs = load_table(spark, sf_dir, "documents")
    toked = docs.select("doc_id", tokens("text").alias("__toks"))
    g = toked.select("doc_id", F.explode(shingles(F.col("__toks"), 2)).alias("ng"))
    c = g.groupBy("doc_id", "ng").agg(F.count(F.lit(1)).alias("cnt"))
    return c.groupBy("doc_id").agg(
        F.round(F.max("cnt") / F.sum("cnt"), 6).alias("top_frac"),
        F.round(F.lit(1.0) - F.count(F.lit(1)) / F.sum("cnt"), 6).alias("dup_frac"),
    )


@query("ivf_pq_topk", oracle=None, category="similarity")
def ivf_pq_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ approximate k-NN: coarse-quantizer routing + per-cluster ADC
    over PQ codes via cogrouped applyInPandas (operators/pq.py:ivf_pq_topk).

    The composition the round-2 ROADMAP called for: codes live partitioned
    by cluster id (the inverted file), queries route to n_probe clusters,
    and no full-code broadcast or driver collect exists on the path.
    Approximate ⇒ rows-only; recall floor asserted in tests/test_pq.py.
    """
    from cbde_mapreduce_spark.operators.pq import ivf_pq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_pq_topk(emb, k=5, n_clusters=8, n_probe=3, m=8, n_centroids=16)


@query(
    "incremental_dedup_docs",
    oracle="""
        WITH seen AS (SELECT md5(text) AS h FROM documents),
        newb AS (
            SELECT doc_id + 100000 AS new_id, text
            FROM documents WHERE doc_id % 7 = 0
            UNION ALL
            SELECT doc_id + 200000 AS new_id, text || ' fresh' AS text
            FROM documents WHERE doc_id % 11 = 0
        )
        SELECT new_id FROM newb
        WHERE md5(text) IS NULL
           OR md5(text) NOT IN (SELECT h FROM seen WHERE h IS NOT NULL)
    """,
    category="llm_pipeline",
)
def incremental_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-batch incremental dedup with a Bloom-filter prefilter
    (operators/dedup.py::incremental_dedup).

    The new batch mixes exact re-crawls (doc_id % 7 — must be dropped) with
    genuinely new revisions (doc_id % 11, text + ' fresh' — must survive),
    so both join outcomes are exercised (non-vacuous by construction). The
    Bloom stage answers 'definitely new' executor-side with zero shuffle;
    only bloom-positives reach the exact anti-join. Exactness is guaranteed
    (no false negatives), asserted against the NOT IN oracle.
    """
    from cbde_mapreduce_spark.operators.dedup import incremental_dedup

    docs = load_table(spark, sf_dir, "documents")
    h = F.md5(F.encode("text", "UTF-8")).alias("h")
    seen = docs.select(h)
    newb = (
        docs.filter(F.col("doc_id") % 7 == 0)
        .select((F.col("doc_id") + 100000).alias("new_id"), "text")
        .unionByName(
            docs.filter(F.col("doc_id") % 11 == 0).select(
                (F.col("doc_id") + 200000).alias("new_id"),
                F.concat(F.col("text"), F.lit(" fresh")).alias("text"),
            )
        )
        .select("new_id", h)
    )
    return incremental_dedup(newb, seen, key_col="h").select("new_id")


@query(
    "curriculum_buckets_docs",
    oracle="""
        WITH s AS (
            SELECT doc_id,
                   len(list_distinct(string_split(text, ' '))) * 1.0
                     / len(string_split(text, ' ')) AS qual
            FROM documents),
        t AS (SELECT quantile_cont(qual, [0.25, 0.5, 0.75]) AS th FROM s)
        SELECT CASE WHEN qual < th[1] THEN 0
                    WHEN qual < th[2] THEN 1
                    WHEN qual < th[3] THEN 2
                    ELSE 3 END        AS bucket,
               count(*)               AS n_docs,
               round(sum(round(qual * 1000000000)::bigint) / 1000000000.0
                     / count(qual), 6) AS avg_quality
        FROM s, t GROUP BY 1
    """,
    category="llm_pipeline",
)
def curriculum_buckets_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum bucketing: split the corpus into quality quartiles by
    GLOBAL quantile thresholds, not ntile — the scale-correct shape.

    ``ntile(4) OVER (ORDER BY qual)`` would funnel every row through one
    partition (the round-1 verdict's single-partition trap); computing the
    three interpolated quartile THRESHOLDS first (one aggregate ⇒ 24
    doubles) and broadcasting them back turns bucketing into an
    embarrassingly parallel CASE expression. Same linear-interpolation
    percentile definition on both engines (proven by
    ``percentiles_order_value``).
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    s = docs.select(
        "doc_id",
        (F.size(F.array_distinct(toks)) * F.lit(1.0) / F.size(toks)).alias("qual"),
    )
    th = s.agg(
        F.expr("percentile(qual, array(0.25, 0.5, 0.75))").alias("th")
    )
    bucket = (
        F.when(F.col("qual") < F.element_at("th", 1), 0)
        .when(F.col("qual") < F.element_at("th", 2), 1)
        .when(F.col("qual") < F.element_at("th", 3), 2)
        .otherwise(3)
    )
    return (
        s.crossJoin(F.broadcast(th))
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            # per-row qual (a ratio of two ints, engine-identical) quantized
            # at 1e-9 and summed as exact integers (money.py discipline)
            F.round(
                F.sum(F.round(F.col("qual") * 1000000000).cast("bigint"))
                / F.lit(1000000000.0)
                / F.count("qual"),
                6,
            ).alias("avg_quality"),
        )
    )


@query(
    "source_cap_sample",
    oracle="""
        WITH r AS (SELECT doc_id, source,
                          row_number() OVER (PARTITION BY source
                                             ORDER BY md5(text), doc_id) AS rn
                   FROM documents)
        SELECT source, count(*) AS n_kept, min(doc_id) AS min_doc
        FROM r WHERE rn <= 10 GROUP BY source
    """,
    category="llm_pipeline",
)
def source_cap_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quota capping: keep at most 10 docs per source, chosen by
    content-hash order — the deterministic downsampling of over-represented
    domains during corpus balancing.

    Hash order (not doc_id order) so the kept subset is unbiased w.r.t.
    crawl/insert order and stable across engines; the window partitions by
    source, so the sort is per-source-parallel, never global.
    """
    docs = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    w = Window.partitionBy("source").orderBy(
        F.md5(F.encode("text", "UTF-8")), F.asc("doc_id")
    )
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_kept"), F.min("doc_id").alias("min_doc"))
    )


@query(
    "seq_len_histogram",
    oracle="""
        WITH t AS (SELECT len(string_split(text, ' '))::bigint AS n_tok
                   FROM documents)
        SELECT floor(log2(n_tok))::int AS log2_bucket,
               count(*)::bigint        AS n_docs,
               min(n_tok)              AS min_tok,
               max(n_tok)              AS max_tok,
               sum(n_tok)::bigint      AS total_tok
        FROM t GROUP BY 1
    """,
    category="llm_pipeline",
)
def seq_len_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-length distribution in log2 buckets — the first chart of
    every tokenization report (truncation/padding budgeting, packing
    efficiency). One narrow scan + combinable aggregate; the bucket key is
    floor(log2 n), exact for power-of-two boundaries in both engines."""
    docs = load_table(spark, sf_dir, "documents")
    n_tok = F.size(tokens("text")).cast("bigint")
    return (
        docs.select(n_tok.alias("n_tok"))
        .groupBy(F.floor(F.log2("n_tok")).cast("int").alias("log2_bucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("n_tok").alias("min_tok"),
            F.max("n_tok").alias("max_tok"),
            F.sum("n_tok").cast("bigint").alias("total_tok"),
        )
    )


_BPE_ROUNDS = 3


def _bpe_round_cte(i: int) -> str:
    """One unrolled BPE round for the DuckDB twin: count pairs, pick the
    (count desc, pair asc) argmax, merge it in every sequence."""
    prev, cur = f"w{i - 1}", f"w{i}"
    return f"""
        p{i} AS (SELECT z[1] || ' ' || z[2] AS pair, sum(n)::bigint AS c
                 FROM (SELECT unnest(list_zip(toks, toks[2:])) AS z, n
                       FROM (SELECT string_split(seq, ' ') AS toks, n FROM {prev}))
                 WHERE z[2] IS NOT NULL GROUP BY 1),
        b{i} AS (SELECT pair, c FROM p{i} ORDER BY c DESC, pair LIMIT 1),
        {cur} AS (SELECT trim(replace(' ' || seq || ' ',
                                      ' ' || (SELECT pair FROM b{i}) || ' ',
                                      ' ' || replace((SELECT pair FROM b{i}), ' ', '') || ' '))
                      AS seq, n
                  FROM {prev})"""


_BPE_ORACLE = (
    """
    WITH wc AS (SELECT word, count(*)::bigint AS n
                FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
                WHERE word <> '' GROUP BY word),
    w0 AS (SELECT trim(regexp_replace(word, '(.)', '\\1 ', 'g')) AS seq, n FROM wc),"""
    + ",".join(_bpe_round_cte(i) for i in range(1, _BPE_ROUNDS + 1))
    + "\n    "
    + "\n    UNION ALL ".join(
        f"SELECT {i}::int AS round, pair, c AS pair_count FROM b{i}"
        for i in range(1, _BPE_ROUNDS + 1)
    )
)


@query("bpe_merges_vocab", oracle=_BPE_ORACLE, category="llm_pipeline")
def bpe_merges_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training on the corpus: 3 merge rounds, emitting the
    merge table (round, merged pair, weighted pair count) — the artifact a
    tokenizer ships.

    The MapReduce chain per round: pair-count aggregation over the
    (distinct-word, frequency) table, a deterministic argmax
    (count desc, pair asc — TakeOrdered, never a full sort), and a
    broadcast-join rewrite applying the merge to every sequence. Iteration
    state is the vocabulary-sized word table, NOT the corpus: the corpus is
    scanned once for word counts and never again — this is why BPE training
    scales to 100 TB (the loop runs over ~10⁵ distinct words however big
    the input).

    Merge semantics are greedy non-overlapping left-to-right within a
    round (both engines' ``replace``), which diverges from per-occurrence
    BPE only on immediately-adjacent repeats of the same pair — absent
    from this corpus and rare in natural text.

    The DuckDB twin unrolls the same rounds as chained CTEs, so the whole
    iterative computation is value-hash checked.
    """
    docs = load_table(spark, sf_dir, "documents")
    wc = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    words = wc.select(
        F.trim(F.regexp_replace("word", "(.)", "$1 ")).alias("seq"), "n"
    )
    merges = None
    with RoundState() as rs:
        for r in range(1, _BPE_ROUNDS + 1):
            toks = F.split("seq", " ")
            pairs = (
                # single-symbol sequences yield no pairs; filtering them also
                # guards Spark's sequence(1, 0), which counts DOWN when start>stop
                words.filter(F.size(toks) > 1)
                .select(
                    F.explode(
                        F.transform(
                            F.sequence(F.lit(1), F.size(toks) - 1),
                            lambda i: F.concat_ws(
                                " ", F.element_at(toks, i), F.element_at(toks, i + 1)
                            ),
                        )
                    ).alias("pair"),
                    "n",
                )
                .groupBy("pair")
                .agg(F.sum("n").alias("c"))
            )
            # pin the 1-row winner: computed once (not re-derived by both its
            # consumers), and the returned merges union then reads ONLY these
            # tiny checkpoints — which is what lets the vocabulary-sized
            # per-round word tables below be released as they are superseded
            # instead of accumulating for the session
            best = rs.keep(
                pairs.orderBy(F.desc("c"), F.asc("pair"))
                .limit(1)
                .select(
                    F.lit(r).cast("int").alias("round"),
                    "pair",
                    F.col("c").alias("pair_count"),
                )
                .localCheckpoint()
            )
            merges = best if merges is None else merges.unionByName(best)
            words = rs.step(  # truncate per-round lineage, same as CC/BFS
                words.crossJoin(F.broadcast(best.select("pair")))
                .withColumn(
                    "seq",
                    F.trim(
                        F.expr(
                            "replace(' ' || seq || ' ', ' ' || pair || ' ', "
                            "' ' || replace(pair, ' ', '') || ' ')"
                        )
                    ),
                )
                .select("seq", "n")
            )
        return merges


@query(
    "corpus_prep_pipeline",
    oracle="""
        WITH kept AS (
            SELECT doc_id, text, lang, md5(text) AS h
            FROM documents
            WHERE n_chars >= 100
              AND len(string_split(text, ' ')) >= 20),
        dedup AS (
            SELECT doc_id, text, lang FROM (
                SELECT *, row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn
                FROM kept)
            WHERE rn = 1),
        assigned AS (
            SELECT lang,
                   CASE WHEN (ascii(substr(md5(text), 1, 1)) * 256
                              + ascii(substr(md5(text), 2, 1))) % 100 < 80 THEN 'train'
                        WHEN (ascii(substr(md5(text), 1, 1)) * 256
                              + ascii(substr(md5(text), 2, 1))) % 100 < 90 THEN 'val'
                        ELSE 'test' END AS split,
                   length(text) AS n_chars
            FROM dedup)
        SELECT split, lang, count(*) AS n_docs,
               sum(n_chars)::bigint AS total_chars
        FROM assigned GROUP BY 1, 2
    """,
    category="llm_pipeline",
)
def corpus_prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus preparation, composed from the pipeline's own
    stages in ONE lazy plan: quality gate (length + token floor) → exact
    content dedup (keep min doc_id per md5) → leakage-safe hash split →
    per-(split, lang) accounting.

    The composition is the point: every stage is the same operator the
    registry checks in isolation (quality_score_docs, dedup_exact_keep_first,
    dataset_split_assignment), and chaining them stays one Catalyst plan —
    (scale note: sf0.01 has no duplicate texts, so the dedup stage is
    exercised by the sf0.1 sweep — 7 duplicates removed post-gate there) —
    the filter pushes to the scan, the dedup window and the final
    aggregation are the only shuffles, and nothing materializes in between.
    That is the 100 TB shape of a corpus-prep job: stage boundaries are
    logical, not physical.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").filter(
        (F.col("n_chars") >= 100) & (F.size(F.split("text", " ")) >= 20)
    )
    h = F.md5(F.encode("text", "UTF-8"))
    w = Window.partitionBy(h).orderBy("doc_id")
    dedup = (
        docs.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    )
    bucket = (
        F.ascii(F.substring(h, 1, 1)) * 256 + F.ascii(F.substring(h, 2, 1))
    ) % 100
    split = F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    return (
        dedup.select(split.alias("split"), "lang", F.length("text").alias("nc"))
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("nc").alias("total_chars"),
        )
    )


@query(
    "temperature_mix_sample",
    oracle="""
        WITH lc AS (SELECT lang, count(*) AS c FROM documents GROUP BY 1),
        rates AS (SELECT lang, c,
                         least(100, ceil(100.0 * pow(c, -0.7)
                                         / max(pow(c, -0.7)) OVER ()))::int AS rate
                  FROM lc),
        b AS (SELECT lang,
                     (ascii(substr(md5(text), 1, 1)) * 256
                      + ascii(substr(md5(text), 2, 1))) % 100 AS bucket
              FROM documents)
        SELECT lang, rate,
               count(*) AS n_total,
               sum(CASE WHEN bucket < rate THEN 1 ELSE 0 END)::bigint AS n_kept
        FROM b JOIN rates USING (lang)
        GROUP BY lang, rate
    """,
    category="llm_pipeline",
)
def temperature_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled language mixing (the multilingual α = 0.3 rule):
    to move the post-sample language shares from ∝ count to ∝ count^α, the
    per-language KEEP RATE scales as count^(α−1) — over-represented
    languages are down-sampled hardest, the smallest language keeps 100%.
    On this corpus (en ≈ 44%, four minor languages ≈ 14% each) the en rate
    lands well under 100 while the minors keep everything — the
    flattening is visible in the output, not vacuous. Selection is the
    deterministic content-hash bucket (same discipline as
    domain_mix_sample — never rand()).

    The rate table derives FROM the data in one language-count aggregate +
    a window over the language-sized relation, then broadcasts back.
    Integer percent rates keep the cross-engine comparison exact where raw
    pow() doubles would drift.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    lc = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy()
    keep_w = F.pow("c", F.lit(-0.7))
    rates = lc.select(
        "lang",
        "c",
        F.least(
            F.lit(100),
            F.ceil(F.lit(100.0) * keep_w / F.max(keep_w).over(w)),
        )
        .cast("int")
        .alias("rate"),
    )
    h = F.md5(F.encode("text", "UTF-8"))
    bucket = (
        F.ascii(F.substring(h, 1, 1)) * 256 + F.ascii(F.substring(h, 2, 1))
    ) % 100
    return (
        docs.select("lang", bucket.alias("bucket"))
        .join(F.broadcast(rates), "lang")
        .groupBy("lang", "rate")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(F.when(F.col("bucket") < F.col("rate"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_kept"),
        )
    )


@query(
    "pack_sequences_split",
    oracle=f"""
        WITH t AS (SELECT doc_id, len(string_split(text, ' '))::bigint AS n_tok
                   FROM documents),
        c AS (SELECT doc_id, n_tok,
                     coalesce(sum(n_tok) OVER (ORDER BY doc_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                              0)::bigint AS start_off
              FROM t),
        spans AS (SELECT doc_id, n_tok, start_off,
                         unnest(range(start_off // {SEQ_BUDGET},
                                      (start_off + n_tok - 1) // {SEQ_BUDGET} + 1))
                             AS seq_id
                  FROM c)
        SELECT seq_id,
               count(*) AS n_docs_touched,
               sum(least(start_off + n_tok, (seq_id + 1) * {SEQ_BUDGET})
                   - greatest(start_off, seq_id * {SEQ_BUDGET}))::bigint
                   AS seq_tokens,
               min(doc_id) AS first_doc,
               max(doc_id) AS last_doc
        FROM spans GROUP BY seq_id
    """,
    category="llm_pipeline",
)
def pack_sequences_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boundary-splitting sequence packing: the token stream is cut into
    EXACT fixed-budget sequences and documents SPAN cuts (the way real
    pretraining packs — no padding, no short sequences), versus
    pack_sequences_chunked's whole-doc assignment. Each doc explodes to
    the sequences its token interval overlaps; per-sequence token counts
    are the interval intersections, so every sequence except the last sums
    to exactly the budget — asserted by the oracle's identical arithmetic.

    Same distributed prefix sum as the chunked packer for the global
    offsets; the span explode emits ceil(n_tok / budget) + 1 rows per doc
    — output size ∝ corpus tokens / budget, combinable aggregation after.
    """
    from cbde_mapreduce_spark.operators.prefix import exclusive_prefix_sum

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", F.size(tokens("text")).cast("bigint").alias("n_tok"))
    c = exclusive_prefix_sum(t, "doc_id", "n_tok", out_col="start_off")
    first_seq = F.floor(F.col("start_off") / SEQ_BUDGET)
    last_seq = F.floor((F.col("start_off") + F.col("n_tok") - 1) / SEQ_BUDGET)
    spans = c.select(
        "doc_id",
        "n_tok",
        "start_off",
        F.explode(F.sequence(first_seq, last_seq)).alias("seq_id"),
    )
    overlap = F.least(
        F.col("start_off") + F.col("n_tok"), (F.col("seq_id") + 1) * SEQ_BUDGET
    ) - F.greatest(F.col("start_off"), F.col("seq_id") * SEQ_BUDGET)
    return spans.groupBy("seq_id").agg(
        F.count(F.lit(1)).alias("n_docs_touched"),
        F.sum(overlap).cast("bigint").alias("seq_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


CHUNK_WINDOW = 64  # tokens per retrieval chunk
CHUNK_STRIDE = 32  # overlap = window - stride


@query(
    "chunk_overlap_docs",
    oracle=f"""
        WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks,
                          len(string_split(text, ' ')) AS n
                   FROM documents),
        s AS (SELECT doc_id, toks, n,
                     unnest(range(0, n, {CHUNK_STRIDE}))::bigint AS start
              FROM t)
        SELECT doc_id,
               (start // {CHUNK_STRIDE})::int AS chunk_id,
               least({CHUNK_WINDOW}, n - start)::bigint AS n_chunk_tokens,
               md5(array_to_string(toks[start + 1 : start + {CHUNK_WINDOW}], ' '))
                 AS chunk_md5
        FROM s
    """,
    category="llm-pipeline",
)
def chunk_overlap_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window retrieval chunking (RAG prep): 64-token chunks with a
    32-token stride, so consecutive chunks overlap by half — boundary
    sentences always appear intact in some chunk.

    Pure built-ins end to end: split once, explode a stride-spaced start
    sequence (1→N flatMap, ~n_tokens/32 chunks per doc), slice the token
    array per start, fingerprint with md5. Embarrassingly parallel per doc
    — no shuffle at all before any downstream dedup/aggregation, so the
    100 TB cost is one scan plus the ~3× token amplification the overlap
    policy itself mandates. Chunk md5s feed the same exact-dedup /
    MinHash ops as whole docs (chunk_dedup_docs).
    """
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        F.split(F.col("text"), " ").alias("toks"),
        F.size(F.split(F.col("text"), " ")).alias("n"),
    )
    s = t.select(
        "doc_id",
        "toks",
        "n",
        F.explode(
            F.sequence(
                F.lit(0).cast("bigint"),
                (F.col("n") - 1).cast("bigint"),
                F.lit(CHUNK_STRIDE).cast("bigint"),
            )
        ).alias("start"),
    )
    return s.select(
        "doc_id",
        (F.col("start") / CHUNK_STRIDE).cast("int").alias("chunk_id"),
        F.least(F.lit(CHUNK_WINDOW), F.col("n") - F.col("start"))
        .cast("bigint")
        .alias("n_chunk_tokens"),
        F.md5(
            F.array_join(
                F.slice(F.col("toks"), F.col("start") + 1, CHUNK_WINDOW), " "
            )
        ).alias("chunk_md5"),
    )


@query(
    "stratified_split_quota",
    oracle="""
        WITH r AS (
            SELECT lang, doc_id,
                   row_number() OVER (PARTITION BY lang
                                      ORDER BY md5(doc_id::varchar), doc_id)
                     AS rk,
                   count(*) OVER (PARTITION BY lang) AS n
            FROM documents),
        a AS (SELECT lang,
                     CASE WHEN rk <= (8 * n) // 10 THEN 'train'
                          WHEN rk <= (9 * n) // 10 THEN 'val'
                          ELSE 'test' END AS split
              FROM r)
        SELECT lang, split, count(*)::bigint AS n_docs
        FROM a GROUP BY lang, split
    """,
    category="llm-pipeline",
)
def stratified_split_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact stratified 80/10/10 split PER LANGUAGE: within each language,
    docs rank by md5-hash order and the first ⌊0.8n⌋ go to train, the next
    ⌊0.9n⌋−⌊0.8n⌋ to val, the rest to test — every stratum hits its quota
    exactly (a global hash split like dataset_split_assignment only hits
    80/10/10 in expectation, so small languages can end up with an empty
    eval set).

    One window per stratum key: shuffle on lang, sort by the replayable
    hash order, integer-threshold the rank — deterministic, and the
    same shape caps any stratum at 100 TB. Counts per (lang, split) are
    the verifiable contract; assignment itself is the rank predicate.
    """
    docs = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    r = docs.select(
        "lang",
        "doc_id",
        F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy("lang")).alias("n"),
    )
    a = r.select(
        "lang",
        F.when(F.col("rk") <= F.expr("(8 * n) div 10"), "train")
        .when(F.col("rk") <= F.expr("(9 * n) div 10"), "val")
        .otherwise("test")
        .alias("split"),
    )
    return a.groupBy("lang", "split").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )


_STUDY_SIZES = (16, 32, 64)  # window sizes; stride = window/2 each

_STUDY_ORACLE = f"""
    WITH t AS (SELECT doc_id, len(string_split(text, ' '))::bigint AS n
               FROM documents WHERE text <> ''),
    sizes AS (SELECT unnest([{", ".join(str(s) for s in _STUDY_SIZES)}])
                AS w),
    chunks AS (
        SELECT t.doc_id, sizes.w, g.start
        FROM t CROSS JOIN sizes
        JOIN LATERAL (SELECT unnest(range(0, t.n, sizes.w // 2))::bigint
                        AS start) g ON true),
    per AS (SELECT w, doc_id,
                   count(*)::bigint AS n_chunks,
                   sum(least(w, (SELECT n FROM t t2
                                 WHERE t2.doc_id = chunks.doc_id) - start))
                     AS emitted
            FROM chunks GROUP BY w, doc_id)
    SELECT per.w AS window,
           sum(per.n_chunks)::bigint AS n_chunks,
           sum(per.emitted)::bigint AS emitted_tokens,
           round(sum(per.emitted) / (SELECT sum(n) FROM t)::double, 6)
             AS amplification,
           round(sum(round(per.emitted * 1.0 / (per.n_chunks * per.w)
                           * 1e9)::bigint::decimal(38,0))::double
                 / 1e9 / count(*), 6)
             AS fill_ratio
    FROM per GROUP BY per.w
"""


@query("chunk_size_study", oracle=_STUDY_ORACLE, category="llm-pipeline")
def chunk_size_study(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-size sweep for the RAG chunker: for windows of 16/32/64
    tokens (half-window stride), the corpus-wide chunk count, emitted
    token volume, amplification factor (emitted / raw — the storage and
    embedding-compute multiplier the overlap policy buys), and mean chunk
    fill ratio (small windows waste less tail, large windows carry more
    context). This is the study run ONCE before committing an embedding
    budget, expressed as one query.

    All three window sizes ride a single scan: the doc-length table cross
    joins the 3-row size dimension, chunk starts explode per (doc, size),
    and the roll-ups are combinable. No chunk text materializes — the
    study needs only lengths, so the token amplification is arithmetic,
    not data.
    """
    docs = load_table(spark, sf_dir, "documents").filter(F.col("text") != "")
    t = docs.select(
        "doc_id", F.size(F.split("text", " ")).cast("bigint").alias("n")
    )
    sizes = docs.sparkSession.createDataFrame(
        [(s,) for s in _STUDY_SIZES], "w bigint"
    )
    chunks = (
        t.crossJoin(F.broadcast(sizes))
        .select(
            "doc_id",
            "n",
            "w",
            F.explode(
                F.sequence(
                    F.lit(0).cast("bigint"),
                    F.col("n") - 1,
                    (F.col("w") / 2).cast("bigint"),
                )
            ).alias("start"),
        )
    )
    per = chunks.groupBy("w", "doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
        F.sum(F.least(F.col("w"), F.col("n") - F.col("start"))).alias("emitted"),
    )
    tot = t.agg(F.sum("n").alias("raw"))
    return (
        per.groupBy(F.col("w").alias("window"))
        .agg(
            F.sum("n_chunks").cast("bigint").alias("n_chunks"),
            F.sum("emitted").cast("bigint").alias("emitted_tokens"),
            F.sum("emitted").alias("_emitted_raw"),
            # per-doc fill ratios (exact-int ratios, engine-identical)
            # quantize at 1e-9 before the exact mean (money.py round-11)
            F.round(
                F.sum(
                    F.round(
                        F.col("emitted")
                        * 1.0
                        / (F.col("n_chunks") * F.col("w"))
                        * 1e9
                    )
                    .cast("bigint")
                    .cast("decimal(38,0)")
                ).cast("double")
                / F.lit(1e9)
                / F.count(F.lit(1)),
                6,
            ).alias("fill_ratio"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "window",
            "n_chunks",
            "emitted_tokens",
            F.round(F.col("_emitted_raw") / F.col("raw").cast("double"), 6).alias(
                "amplification"
            ),
            "fill_ratio",
        )
    )
