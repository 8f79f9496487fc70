"""End-to-end training-data pipeline queries (north-star composites).

Where plans/extensions.py exposes each LLM-data operator individually,
these queries chain them the way a real corpus-preparation job would:

``corpus_curation_pipeline``
    language-ID -> quality filter -> exact dedup, in a single pass over
    ``documents`` (one projection computes every feature; dedup adds one
    hash-aggregate + semi join). Fully oracle-checked — the DuckDB SQL is
    built from the same marker/threshold constants.

``near_dup_clusters``
    the three-stage near-dup story: MinHash+LSH candidate generation
    (band equi-join, no all-pairs) -> exact n-gram-Jaccard verification
    on candidates only -> connected components over verified pairs ->
    per-document cluster id. md5-derived hashes -> full value oracle
    (plans/lsh_oracles.py, recursive-CTE component labeling);
    tests/test_pipelines.py checks planted duplicates cluster.

``corpus_token_stats``
    per-source corpus statistics (doc counts, token sums, exact token
    percentiles) — the reporting pass a curation job ends with.

``documents_hash_sample``
    deterministic md5-bucket sampling (operators/sampling.py): the same
    1/8 of the corpus on every run, any partitioning — shuffle-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_algorithms_with_pyspark_spark.functions.text_functions import (
    normalize_text,
    words,
)
from data_algorithms_with_pyspark_spark.operators.dedup import (
    floor_round,
    minhash_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    spread_partitions,
)
from data_algorithms_with_pyspark_spark.operators.iterative import (
    connected_components,
)
from data_algorithms_with_pyspark_spark.operators.sampling import hash_sample
from data_algorithms_with_pyspark_spark.operators.text import (
    LANG_MARKERS,
    curation_features,
)
from data_algorithms_with_pyspark_spark.plans.catalog import register
from data_algorithms_with_pyspark_spark.plans.extensions import (
    srp_pairs_sql as _srp_pairs,
)
from data_algorithms_with_pyspark_spark.plans.lsh_oracles import (
    near_dup_clusters_sql,
)
from data_algorithms_with_pyspark_spark.sources.readers import load_table

# Shared fragments — identical to plans/extensions.py so Spark and oracle
# cannot drift.
_TOKENS = (
    "list_filter(string_split_regex(trim(lower(text)), '\\s+'), w -> len(w) > 0)"
)
_NORMALIZED = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"

_QUALITY_THRESHOLD = 0.45
_CURATION_LANG = "en"
_NEAR_DUP_JACCARD = 0.2
_SAMPLE_SIXTEENTHS = 2  # 2/16 = 1/8 of the corpus


def _marker_sql(markers: tuple[str, ...]) -> str:
    lst = ", ".join(f"'{m}'" for m in markers)
    return f"len(list_filter({_TOKENS}, t -> list_contains([{lst}], t)))"


def _quality_score_sql() -> str:
    stop = _marker_sql(LANG_MARKERS["en"])
    return f"""least(CAST(len({_TOKENS}) AS DOUBLE) / 100.0, 1.0) * 0.4
             + (CAST({stop} AS DOUBLE) / greatest(len({_TOKENS}), 1)) * 0.3
             + (CAST(len(regexp_extract_all(lower(text), '[a-z]')) AS DOUBLE)
                / greatest(len(text), 1)) * 0.3"""


def _pred_lang_case_sql() -> str:
    """CASE expression over score_<lang> columns (requires a scored CTE)."""
    langs = sorted(LANG_MARKERS)
    best = "greatest(" + ", ".join(f"score_{lang}" for lang in langs) + ")"
    case = " ".join(f"WHEN score_{lang} = {best} THEN '{lang}'" for lang in langs)
    return f"CASE WHEN {best} <= 0 THEN 'und' {case} ELSE 'und' END"


def _lang_scores_sql() -> str:
    langs = sorted(LANG_MARKERS)
    return ", ".join(
        f"{_marker_sql(LANG_MARKERS[lang])} AS score_{lang}" for lang in langs
    )


@register(
    "corpus_curation_pipeline",
    tags=("pipeline", "text", "dedup"),
    description=f"Curation: lang='{_CURATION_LANG}' + quality>={_QUALITY_THRESHOLD} "
    "+ exact dedup (keep min doc_id), one pass + one hash-agg",
    oracle=f"""
        WITH scored AS (
            SELECT doc_id, source, text, {_lang_scores_sql()}
            FROM documents
        ),
        featured AS (
            SELECT doc_id, source,
                   {_pred_lang_case_sql()} AS pred_lang,
                   floor(({_quality_score_sql()}) * 10000 + 0.5) / 10000 AS quality_score,
                   len({_TOKENS}) AS n_tokens,
                   md5({_NORMALIZED}) AS content_hash
            FROM scored
        ),
        canon AS (
            -- dedup FIRST (min doc_id per content hash), filter after:
            -- same order as the Spark plan
            SELECT min(doc_id) AS doc_id FROM featured GROUP BY content_hash
        )
        SELECT f.doc_id, f.source, f.pred_lang, f.quality_score, f.n_tokens
        FROM featured f JOIN canon USING (doc_id)
        WHERE f.pred_lang = '{_CURATION_LANG}'
          AND f.quality_score >= {_QUALITY_THRESHOLD}
    """,
)
def corpus_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-projection feature pass (language vote + quality score +
    content hash are all Catalyst expressions over one scan), then one
    hash-aggregate on content_hash and a self semi-join to keep the
    canonical (min-id) row per duplicate group. Two shuffles total, both
    on the dedup key — the layout a 100 TB curation job wants."""
    docs = load_table(spark, sf_dir, "documents")
    # The feature projection is the CPU hot spot; spread a few-partition
    # scan across cores first (no-op when the input already has enough
    # partitions, i.e. at real scale). curation_features materializes the
    # token array + marker counts once per row (tokenize-once staging;
    # value-identical to the old inline exprs, ~20-40x fewer regex
    # tokenizations per document).
    featured = curation_features(
        spread_partitions(docs.select("doc_id", "source", "text")),
        keep_cols=("doc_id", "source"),
        features=("pred_lang", "quality_score", "n_tokens", "content_hash"),
    )
    # Dedup FIRST via min(struct(...)) — doc_id leads the struct, so the
    # aggregate keeps exactly the min-doc_id row per content hash — then
    # filter on the surviving rows' features. Ordering matters for the
    # physical plan: filtering first would let Catalyst push the filter
    # (with the expensive text expressions substituted in) below the
    # spreading repartition, serializing the hot expressions onto the
    # scan's few partitions AND evaluating them twice. Dedup-then-filter
    # keeps the projection above the exchange (parallel, evaluated once);
    # the post-aggregate filter touches only cheap struct fields.
    # The struct min plans as SortAggregate (allowlisted): the rank-1
    # window alternative (WindowGroupLimit) was built and measured in
    # round 4 — struct 0.68s vs window 0.95s warm at sf0.1 — both forms
    # sort each task by content_hash with the same pre-shuffle
    # one-row-per-hash pruning, so the struct form's smaller constant
    # wins; see tests/test_plan_lint.py:_ALLOWED.
    return (
        featured.groupBy("content_hash")
        .agg(
            F.min(
                F.struct("doc_id", "source", "pred_lang", "quality_score", "n_tokens")
            ).alias("_keep")
        )
        .where(
            (F.col("_keep.pred_lang") == _CURATION_LANG)
            & (F.col("_keep.quality_score") >= _QUALITY_THRESHOLD)
        )
        .select(
            F.col("_keep.doc_id").alias("doc_id"),
            F.col("_keep.source").alias("source"),
            F.col("_keep.pred_lang").alias("pred_lang"),
            F.col("_keep.quality_score").alias("quality_score"),
            F.col("_keep.n_tokens").alias("n_tokens"),
        )
    )


@register(
    "near_dup_clusters",
    tags=("pipeline", "dedup", "lsh"),
    description="LSH candidates -> exact-Jaccard verify -> connected "
    "components -> cluster id per near-duplicate document (md5-derived "
    "hashes -> full value oracle incl. a recursive-CTE component labeling; "
    "planted-dup test in tests/test_pipelines.py)",
    oracle=near_dup_clusters_sql(
        candidate_jaccard=0.1, verify_jaccard=_NEAR_DUP_JACCARD
    ),
)
def near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale-correct near-dup shape: the quadratic all-pairs step never
    runs — LSH banding proposes candidates via equi-join, exact Jaccard
    verifies only those, and min-label propagation (O(diameter) rounds)
    turns verified pairs into clusters. Returns (doc_id, cluster_id,
    cluster_size) for documents in clusters of size >= 2."""
    docs = load_table(spark, sf_dir, "documents")
    sigs = minhash_signatures(docs, num_perm=64, shingle_n=3)
    candidates = minhash_candidate_pairs(sigs, bands=16, min_jaccard=0.1)
    verified = ngram_jaccard_pairs(
        docs, _NEAR_DUP_JACCARD, shingle_n=3, candidates=candidates
    )
    edges = verified.select(
        F.col("id_1").alias("src"), F.col("id_2").alias("dst")
    )
    clusters = connected_components(edges).select(
        F.col("id").alias("doc_id"), F.col("component").alias("cluster_id")
    )
    sizes = clusters.groupBy("cluster_id").agg(
        F.count("*").cast("long").alias("cluster_size")
    )
    return clusters.join(sizes, "cluster_id").select(
        "doc_id", "cluster_id", "cluster_size"
    )


@register(
    "near_dup_keep_best",
    tags=("pipeline", "dedup", "lsh", "quality"),
    description="The dedup DECISION: per near-dup cluster, keep the "
    "highest-quality document (integer-grid quality, ties -> min doc_id; "
    "cluster-partitioned rank-1 window -> WindowGroupLimit)",
    oracle=f"""
        WITH clusters AS (
            {near_dup_clusters_sql(candidate_jaccard=0.1, verify_jaccard=_NEAR_DUP_JACCARD)}
        ),
        q AS (
            SELECT doc_id,
                   CAST(floor(({_quality_score_sql()}) * 10000 + 0.5)
                        AS BIGINT) AS quality_q
            FROM documents
        ),
        ranked AS (
            SELECT c.cluster_id, c.cluster_size, c.doc_id, q.quality_q,
                   row_number() OVER (
                       PARTITION BY c.cluster_id
                       ORDER BY q.quality_q DESC, c.doc_id
                   ) AS rn
            FROM clusters c JOIN q USING (doc_id)
        )
        SELECT cluster_id, doc_id AS kept_doc_id, cluster_size, quality_q
        FROM ranked WHERE rn = 1
    """,
)
def near_dup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Completes the near-dup story with the decision a production
    pipeline actually emits: which document survives each cluster.
    Representative selection is quality-based (the same integer-grid
    quality score the curation pass uses; ties broken by min doc_id so
    the choice is total-ordered and engine-exact), planned as a
    cluster-partitioned ``row_number() = 1`` window — WindowGroupLimit
    prunes to one row per cluster below the shuffle, and the quality
    projection runs once over only the clustered documents (a
    vanishing fraction of the corpus). The oracle replays clustering
    (recursive-CTE components over md5-derived LSH) AND the quality
    argmax independently."""
    from pyspark.sql import Window

    clusters = near_dup_clusters(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    q = curation_features(
        docs, keep_cols=("doc_id",), features=("quality_score",)
    ).select(
        "doc_id",
        F.floor(F.col("quality_score") * 10000 + F.lit(0.5))
        .cast("long")
        .alias("quality_q"),
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("quality_q"), F.asc("doc_id")
    )
    return (
        clusters.join(q, "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("kept_doc_id"),
            "cluster_size",
            "quality_q",
        )
    )


@register(
    "corpus_token_stats",
    tags=("pipeline", "text", "stats"),
    description="Per-source corpus report: docs, token sum, exact p50/p90 tokens",
    oracle=f"""
        WITH t AS (SELECT source, len({_TOKENS}) AS n_tokens FROM documents)
        SELECT source,
               count(*) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
               floor(quantile_cont(n_tokens, 0.5) * 100 + 0.5) / 100 AS p50_tokens,
               floor(quantile_cont(n_tokens, 0.9) * 100 + 0.5) / 100 AS p90_tokens
        FROM t GROUP BY source
    """,
)
def corpus_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(words("text")).cast("long")
    return (
        docs.select("source", n_tokens.alias("n_tokens"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            # floor-grid (not round): interpolated percentiles can land on
            # exact *.xx5 reprs where the engines' round() diverge
            floor_round(F.percentile("n_tokens", F.lit(0.5)), 2).alias(
                "p50_tokens"
            ),
            floor_round(F.percentile("n_tokens", F.lit(0.9)), 2).alias(
                "p90_tokens"
            ),
        )
    )


@register(
    "customer_segment_upsert",
    tags=("pipeline", "merge"),
    description="SCD-1 upsert: customers with >12 orders get segment=VIP "
    "(operators/merge.py:upsert — anti join + union, the MERGE INTO plan)",
    oracle="""
        WITH vip_keys AS (
            SELECT o_custkey FROM orders GROUP BY o_custkey HAVING count(*) > 12
        ),
        src AS (
            SELECT c_custkey, c_name, c_nationkey, c_acctbal,
                   'VIP' AS c_mktsegment
            FROM customer JOIN vip_keys ON c_custkey = o_custkey
        )
        SELECT * FROM customer
        WHERE c_custkey NOT IN (SELECT c_custkey FROM src)
        UNION ALL
        SELECT * FROM src
    """,
)
def customer_segment_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derive a change batch (VIP re-segmentation) from orders, then merge
    it into customer via operators/merge.upsert: one aggregation on the
    fact table + one anti equi-join on the merge key + union — the exact
    lowering MERGE INTO produces, no driver-side rows."""
    from data_algorithms_with_pyspark_spark.operators.merge import upsert

    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    vip_keys = (
        orders.groupBy("o_custkey").agg(F.count("*").alias("n")).where(F.col("n") > 12)
    )
    src = (
        customer.join(
            vip_keys, F.col("c_custkey") == F.col("o_custkey"), "left_semi"
        )
        .withColumn("c_mktsegment", F.lit("VIP"))
    )
    return upsert(customer, src, ["c_custkey"])


@register(
    "orders_cdc_replay",
    tags=("pipeline", "merge", "cdc"),
    description="CDC change-log replay onto an orders snapshot: I/U/D ops, "
    "latest change per key wins (operators/merge.py:apply_cdc; window "
    "top-1 pre-reduce + anti join + union — the MERGE INTO lowering)",
    oracle="""
        WITH base AS (
            SELECT o_orderkey, o_custkey, o_orderstatus,
                   CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS price_cents
            FROM orders
        ),
        target AS (SELECT * FROM base WHERE o_orderkey % 7 <> 0),
        changelog AS (
            SELECT o_orderkey, o_custkey, o_orderstatus, price_cents,
                   'I' AS op, CAST(1 AS BIGINT) AS seq
            FROM base WHERE o_orderkey % 7 = 0
            UNION ALL
            SELECT o_orderkey, o_custkey, o_orderstatus, price_cents + 100,
                   'U', CAST(1 AS BIGINT)
            FROM base WHERE o_orderkey % 5 = 0
            UNION ALL
            SELECT o_orderkey, o_custkey, o_orderstatus, price_cents + 250,
                   'U', CAST(2 AS BIGINT)
            FROM base WHERE o_orderkey % 5 = 0
            UNION ALL
            SELECT o_orderkey, o_custkey, o_orderstatus, price_cents,
                   'D', CAST(3 AS BIGINT)
            FROM base WHERE o_orderkey % 11 = 0
        ),
        latest AS (
            SELECT * FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY o_orderkey ORDER BY seq DESC
                ) AS rn FROM changelog
            ) WHERE rn = 1
        ),
        merged AS (
            SELECT t.* FROM target t
            WHERE t.o_orderkey NOT IN (SELECT o_orderkey FROM latest)
            UNION ALL
            SELECT o_orderkey, o_custkey, o_orderstatus, price_cents
            FROM latest WHERE op <> 'D'
        )
        SELECT o_orderstatus,
               count(*) AS n_orders,
               CAST(sum(price_cents) AS BIGINT) AS total_cents
        FROM merged GROUP BY o_orderstatus
    """,
)
def orders_cdc_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay a derived I/U/D change-log batch onto a derived orders
    snapshot and report the merged table per order status.

    The change batch is built deterministically from ``orders`` itself
    (no synthesized inputs): keys ``%7==0`` are missing from the
    snapshot and arrive as inserts, keys ``%5==0`` carry TWO update
    images (seq 1 then seq 2 — the latest must win), keys ``%11==0``
    are deletes at seq 3 (so a key divisible by 55 or 77 exercises
    delete-beats-earlier-image). The top seq per key is unique by
    construction, so the latest-change pre-reduce is deterministic.

    Scale shape (operators/merge.py): one key-partitioned window top-1
    over the changelog (WindowGroupLimit prunes below the shuffle) +
    one left-anti equi-join on the merge key + union — the plan
    MERGE INTO lowers to; both shuffles key-partitioned, AQE handles
    skew. Prices ride as integer cents (floor(x*100+0.5), the repo
    rounding grid), so the checksum is order-independent and
    hash-exact."""
    from data_algorithms_with_pyspark_spark.operators.merge import apply_cdc

    base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("price_cents"),
    )
    key = F.col("o_orderkey")

    def image(where, price, op, seq):
        return base.where(where).select(
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            price.cast("long").alias("price_cents"),
            F.lit(op).alias("op"),
            F.lit(seq).cast("long").alias("seq"),
        )

    price = F.col("price_cents")
    changelog = (
        image(key % 7 == 0, price, "I", 1)
        .unionByName(image(key % 5 == 0, price + 100, "U", 1))
        .unionByName(image(key % 5 == 0, price + 250, "U", 2))
        .unionByName(image(key % 11 == 0, price, "D", 3))
    )
    target = base.where(key % 7 != 0)
    merged = apply_cdc(
        target, changelog, ["o_orderkey"], op_col="op", order_col="seq"
    )
    return merged.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        F.sum("price_cents").alias("total_cents"),
    )


_DIFF_PAYLOAD = (
    "o_custkey",
    "o_orderstatus",
    "price_cents",
    "odate",
    "o_orderpriority",
)
_DIFF_DIGEST_SQL = (
    "md5(concat_ws(chr(1), "
    + ", ".join(f"COALESCE(CAST({c} AS VARCHAR), chr(1) || 'N')" for c in _DIFF_PAYLOAD)
    + "))"
)


@register(
    "orders_snapshot_diff",
    tags=("pipeline", "merge", "cdc"),
    description="Snapshot diff — derive the I/U/D changelog between two "
    "table versions (operators/merge.py:snapshot_diff; digest-projected "
    "full-outer join: keys + 16-byte digests shuffle, never the payload)",
    oracle=f"""
        WITH base AS (
            SELECT o_orderkey, o_custkey, o_orderstatus,
                   CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                       AS price_cents,
                   CAST(o_orderdate AS VARCHAR) AS odate, o_orderpriority
            FROM orders
        ),
        newsnap AS (
            SELECT o_orderkey, o_custkey, o_orderstatus,
                   CASE WHEN o_orderkey % 89 = 0 THEN price_cents + 100
                        ELSE price_cents END AS price_cents,
                   odate, o_orderpriority
            FROM base WHERE o_orderkey % 97 <> 0
            UNION ALL
            SELECT -o_orderkey, o_custkey, o_orderstatus, price_cents,
                   odate, o_orderpriority
            FROM base WHERE o_orderkey % 101 = 0
        ),
        od AS (SELECT o_orderkey, {_DIFF_DIGEST_SQL} AS dig FROM base),
        nd AS (SELECT o_orderkey, {_DIFF_DIGEST_SQL} AS dig FROM newsnap)
        SELECT COALESCE(od.o_orderkey, nd.o_orderkey) AS o_orderkey,
               CASE WHEN od.dig IS NULL THEN 'I'
                    WHEN nd.dig IS NULL THEN 'D'
                    ELSE 'U' END AS change
        FROM od FULL OUTER JOIN nd ON od.o_orderkey = nd.o_orderkey
        WHERE od.dig IS NULL OR nd.dig IS NULL OR od.dig <> nd.dig
    """,
)
def orders_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diff two derived versions of ``orders``: the new snapshot drops
    keys ``%97==0`` (deletes), bumps price on keys ``%89==0`` (updates),
    and adds negated-key clones of keys ``%101==0`` (inserts) — all
    derived deterministically from the same table on both engines, no
    synthesized inputs. Joining the diff's I/U keys back to the new
    snapshot for their images yields an ``apply_cdc`` batch that
    reconstructs ``new`` exactly (asserted in tests/test_merge.py).

    Scale shape (operators/merge.py:snapshot_diff): each side projects
    map-side to (key, md5 digest) — explicit null sentinels, money as
    integer cents, dates as ISO strings, so the digest is cross-engine
    deterministic — and the full-outer join shuffles 24 bytes/row, not
    the payload. Bucketed snapshots would drop the Exchange entirely."""
    from data_algorithms_with_pyspark_spark.operators.merge import (
        snapshot_diff,
    )

    key = F.col("o_orderkey")
    base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("price_cents"),
        F.col("o_orderdate").cast("string").alias("odate"),
        "o_orderpriority",
    )
    newsnap = (
        base.where(key % 97 != 0)
        .withColumn(
            "price_cents",
            F.when(key % 89 == 0, F.col("price_cents") + 100).otherwise(
                F.col("price_cents")
            ),
        )
        .unionByName(
            base.where(key % 101 == 0).withColumn("o_orderkey", -key)
        )
    )
    digest = F.md5(
        F.concat_ws(
            "\x01",
            *[
                F.coalesce(F.col(c).cast("string"), F.lit("\x01N"))
                for c in _DIFF_PAYLOAD
            ],
        )
    )
    return snapshot_diff(base, newsnap, ["o_orderkey"], digest)


@register(
    "customer_scd2_history",
    tags=("pipeline", "merge", "scd2"),
    description="SCD type-2 dimension history: two change batches close "
    "open versions and append new ones (operators/merge.py:scd2_apply); "
    "output is the full versioned table, value-checked row by row",
    oracle="""
        WITH base AS (
            SELECT c_custkey, c_mktsegment,
                   CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_cents
            FROM customer
        ),
        after1 AS (
            SELECT c_custkey, c_mktsegment, bal_cents,
                   CAST(0 AS BIGINT) AS valid_from,
                   CASE WHEN c_custkey % 4 = 0 THEN CAST(100 AS BIGINT)
                        ELSE CAST(NULL AS BIGINT) END AS valid_to
            FROM base
            UNION ALL
            SELECT c_custkey, 'UPGRADED', bal_cents + 1000,
                   CAST(100 AS BIGINT), CAST(NULL AS BIGINT)
            FROM base WHERE c_custkey % 4 = 0
        ),
        final AS (
            SELECT c_custkey, c_mktsegment, bal_cents, valid_from,
                   CASE WHEN valid_to IS NULL AND c_custkey % 6 = 0
                        THEN CAST(200 AS BIGINT) ELSE valid_to END AS valid_to
            FROM after1
            UNION ALL
            SELECT c_custkey, 'PREMIER', bal_cents - 500,
                   CAST(200 AS BIGINT), CAST(NULL AS BIGINT)
            FROM base WHERE c_custkey % 6 = 0
        )
        SELECT * FROM final
    """,
)
def customer_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build a slowly-changing-dimension type-2 history for customers by
    applying two derived change batches in sequence.

    Batch 1 (ts=100): keys ``%4==0`` re-segment to UPGRADED (+1000
    cents); batch 2 (ts=200): keys ``%6==0`` re-segment to PREMIER
    (-500 cents vs base). Keys divisible by 12 therefore carry three
    versions ([0,100), [100,200), [200,open)), exercising close-then-
    close-again; keys hit by only one batch carry two; the rest stay
    single open versions. The FULL versioned table is returned — every
    valid_from/valid_to boundary and balance is value-verified against
    the oracle's replay, not just aggregates.

    Scale shape (operators/merge.py:scd2_apply): per batch, one inner
    equi-join (close) + one left-anti (pass-through) on the key, then
    unions — the change side is small and broadcasts under AQE; the
    dimension is never rescanned beyond those joins and nothing hits
    the driver."""
    from data_algorithms_with_pyspark_spark.operators.merge import scd2_apply

    base = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") * 100 + F.lit(0.5))
        .cast("long")
        .alias("bal_cents"),
    )
    current = base.select(
        "*",
        F.lit(0).cast("long").alias("valid_from"),
        F.lit(None).cast("long").alias("valid_to"),
    )
    key = F.col("c_custkey")
    batch1 = base.where(key % 4 == 0).select(
        "c_custkey",
        F.lit("UPGRADED").alias("c_mktsegment"),
        (F.col("bal_cents") + 1000).alias("bal_cents"),
        F.lit(100).cast("long").alias("ts"),
    )
    batch2 = base.where(key % 6 == 0).select(
        "c_custkey",
        F.lit("PREMIER").alias("c_mktsegment"),
        (F.col("bal_cents") - 500).alias("bal_cents"),
        F.lit(200).cast("long").alias("ts"),
    )
    after1 = scd2_apply(current, batch1, ["c_custkey"], change_ts_col="ts")
    return scd2_apply(after1, batch2, ["c_custkey"], change_ts_col="ts")


@register(
    "documents_hash_sample",
    tags=("pipeline", "sampling"),
    description=f"Deterministic md5-bucket {_SAMPLE_SIXTEENTHS}/16 corpus sample "
    "(same rows every run, no shuffle)",
    oracle=f"""
        SELECT doc_id, source, n_chars
        FROM documents
        WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)
              IN ({", ".join(f"'{c}'" for c in "0123456789abcdef"[:_SAMPLE_SIXTEENTHS])})
    """,
)
def documents_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return hash_sample(docs, "doc_id", _SAMPLE_SIXTEENTHS).select(
        "doc_id", "source", "n_chars"
    )


_PACK_BUDGET = 4096
_PACK_BUCKETS = 8
_BENCH_MOD = 97  # doc_id % 97 == 0 -> pseudo-benchmark set (~1%)
_CONTAM_N = 3

_SHINGLES_SQL = f"""
        SELECT doc_id,
               CASE WHEN len({_TOKENS}) >= {_CONTAM_N}
                    THEN list_distinct(list_transform(
                             range(1, len({_TOKENS}) - {_CONTAM_N} + 2),
                             i -> array_to_string(
                                 list_slice({_TOKENS}, i, i + {_CONTAM_N} - 1), ' ')))
                    ELSE [array_to_string({_TOKENS}, ' ')]
               END AS shingles
        FROM documents
"""


@register(
    "training_shard_packing",
    tags=("llm-pipeline", "packing", "window"),
    description=f"Greedy sequence packing: documents -> {_PACK_BUDGET}-token "
    f"shards per (source, doc_id % {_PACK_BUCKETS}) group via exclusive "
    "prefix sum (operators/packing.py) — the shard manifest a training "
    "job consumes",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, source, doc_id % {_PACK_BUCKETS} AS pack_bucket,
                   CAST(len({_TOKENS}) AS BIGINT) AS n_tokens
            FROM documents
        ), packed AS (
            SELECT *,
                   CAST(floor((sum(n_tokens) OVER (
                            PARTITION BY source, pack_bucket ORDER BY doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        - n_tokens) / {_PACK_BUDGET}) AS BIGINT) AS shard_id
            FROM toks
        )
        SELECT source, pack_bucket, shard_id,
               count(*) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
               min(doc_id) AS first_doc,
               max(doc_id) AS last_doc
        FROM packed
        GROUP BY source, pack_bucket, shard_id
    """,
)
def training_shard_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting is a map-side projection; packing is ONE window
    shuffle on (source, bucket) — parallelism = sources x buckets, chosen
    deterministic (doc_id % k) so the oracle reproduces it. The roll-up
    reuses the window's partitioning, so no second shuffle."""
    from data_algorithms_with_pyspark_spark.operators.packing import (
        pack_by_token_budget,
        shard_summary,
    )

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "source",
        (F.col("doc_id") % _PACK_BUCKETS).alias("pack_bucket"),
        F.size(words("text")).cast("long").alias("n_tokens"),
    )
    packed = pack_by_token_budget(
        toks,
        token_col="n_tokens",
        budget=_PACK_BUDGET,
        partition_cols=["source", "pack_bucket"],
        order_col="doc_id",
    )
    return shard_summary(
        packed,
        token_col="n_tokens",
        partition_cols=["source", "pack_bucket"],
        id_col="doc_id",
    )


@register(
    "benchmark_contamination",
    tags=("llm-pipeline", "dedup"),
    description=f"Benchmark-contamination check: corpus docs sharing any "
    f"word {_CONTAM_N}-gram with the pseudo-benchmark set "
    f"(doc_id % {_BENCH_MOD} == 0); benchmark shingles broadcast, corpus "
    "never shuffles (operators/packing.py:contamination_matches)",
    oracle=f"""
        WITH sh AS ({_SHINGLES_SQL}),
        bench AS (
            SELECT DISTINCT unnest(shingles) AS shingle
            FROM sh WHERE doc_id % {_BENCH_MOD} = 0
        ),
        corpus AS (
            SELECT doc_id, unnest(shingles) AS shingle
            FROM sh WHERE doc_id % {_BENCH_MOD} <> 0
        )
        SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_hits
        FROM corpus c JOIN bench b USING (shingle)
        GROUP BY c.doc_id
    """,
)
def benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_algorithms_with_pyspark_spark.operators.packing import (
        contamination_matches,
    )

    docs = load_table(spark, sf_dir, "documents")
    is_bench = F.col("doc_id") % _BENCH_MOD == 0
    return contamination_matches(
        docs.where(~is_bench),
        docs.where(is_bench),
        shingle_n=_CONTAM_N,
    )


@register(
    "orders_quality_report",
    tags=("quality", "pipeline"),
    description="Data-quality gate over orders/lineitem/customer: null, "
    "range, business-rule, duplicate-key, and referential-integrity checks "
    "unioned into one (check_name, n_violations) report "
    "(operators/quality.py; predicate checks fuse into one scan per table)",
    oracle="""
        SELECT 'null_custkey' AS check_name,
               count(CASE WHEN o_custkey IS NULL THEN 1 END) AS n_violations
        FROM orders
        UNION ALL
        SELECT 'nonpositive_totalprice',
               count(CASE WHEN o_totalprice <= 0 THEN 1 END)
        FROM orders
        UNION ALL
        SELECT 'discount_above_5pct',
               count(CASE WHEN l_discount > 0.05 THEN 1 END)
        FROM lineitem
        UNION ALL
        SELECT 'quantity_out_of_range',
               count(CASE WHEN l_quantity <= 0 OR l_quantity > 60 THEN 1 END)
        FROM lineitem
        UNION ALL
        SELECT 'dup_orderkey',
               CAST(COALESCE(sum(n - 1), 0) AS BIGINT)
        FROM (SELECT count(*) AS n FROM orders GROUP BY o_orderkey) t
        UNION ALL
        SELECT 'orphan_orders_custkey', count(*)
        FROM orders o
        WHERE o_custkey IS NOT NULL
          AND NOT EXISTS (SELECT 1 FROM customer c
                          WHERE c.c_custkey = o.o_custkey)
        UNION ALL
        SELECT 'orphan_lineitem_orderkey', count(*)
        FROM lineitem l
        WHERE l_orderkey IS NOT NULL
          AND NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_orderkey = l.l_orderkey)
    """,
)
def orders_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The two predicate groups fuse into one scan per table
    (check_counts); uniqueness is one hash aggregate; the FK checks are
    anti-joins Catalyst broadcasts when the parent is small. The report
    is the union of 4 tiny relations — a pipeline gate reads it and
    fails on any n_violations > 0 (here the business-rule row fires by
    design; the integrity rows are 0 on clean data)."""
    from data_algorithms_with_pyspark_spark.operators.quality import (
        check_counts,
        duplicate_keys,
        fk_orphans,
        quality_report,
    )

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    customer = load_table(spark, sf_dir, "customer")
    return quality_report(
        check_counts(
            orders,
            {
                "null_custkey": F.col("o_custkey").isNull(),
                "nonpositive_totalprice": F.col("o_totalprice") <= 0,
            },
        ),
        check_counts(
            lineitem,
            {
                "discount_above_5pct": F.col("l_discount") > 0.05,
                "quantity_out_of_range": (F.col("l_quantity") <= 0)
                | (F.col("l_quantity") > 60),
            },
        ),
        duplicate_keys(orders, ["o_orderkey"], "dup_orderkey"),
        fk_orphans(orders, customer, "o_custkey", "c_custkey", "orphan_orders_custkey"),
        fk_orphans(
            lineitem, orders, "l_orderkey", "o_orderkey", "orphan_lineitem_orderkey"
        ),
    )


_V2_COSINE_THRESHOLD = 0.35  # same tail threshold as embedding_cosine_near_dups


@register(
    "corpus_curation_v2",
    tags=("pipeline", "text", "dedup", "similarity", "lsh"),
    description=f"Multimodal curation: per-doc keep/drop verdict fusing "
    f"quality>={_QUALITY_THRESHOLD}, exact content-hash dedup, and "
    f"banded-SRP-LSH cosine>={_V2_COSINE_THRESHOLD} near-dup (documents "
    "joined 1:1 to embeddings on doc_id=vec_id; no all-pairs join) — "
    "every drop reason is an explicit flag column",
    oracle=f"""
        WITH feats AS (
            SELECT doc_id,
                   floor(({_quality_score_sql()}) * 10000 + 0.5) / 10000 AS q,
                   md5({_NORMALIZED}) AS content_hash
            FROM documents
        ),
        flagged AS (
            SELECT doc_id, q,
                   CAST(doc_id > min(doc_id) OVER (PARTITION BY content_hash)
                        AS INT) AS exact_dup_loser
            FROM feats
        ),
        near_losers AS (
            SELECT DISTINCT id_2 AS doc_id
            FROM ({_srp_pairs(_V2_COSINE_THRESHOLD)})
        )
        SELECT f.doc_id,
               CAST(f.q >= {_QUALITY_THRESHOLD} AS INT) AS quality_ok,
               f.exact_dup_loser,
               CAST(n.doc_id IS NOT NULL AS INT) AS near_dup_loser,
               CAST(f.q >= {_QUALITY_THRESHOLD}
                    AND f.exact_dup_loser = 0
                    AND n.doc_id IS NULL AS INT) AS kept
        FROM flagged f LEFT JOIN near_losers n USING (doc_id)
    """,
)
def corpus_curation_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three signals, three bounded shuffles: quality is a map-side
    projection; exact dedup is one window min on the content hash; the
    near-dup loser set comes from banded SRP-LSH (band equi-join +
    exact-cosine verify on candidates only — NO all-pairs join anywhere
    in this plan) reduced to a small distinct-id relation before joining
    back. The oracle reproduces the same LSH buckets from shared
    hyperplane literals, so even the approximate stage is value-checked.
    The verdict keeps every doc with explicit drop-reason flags, the
    auditable form a curation run wants."""
    from pyspark.sql.window import Window

    from data_algorithms_with_pyspark_spark.operators.similarity import (
        srp_banded_near_dup_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")

    feats = curation_features(
        docs, keep_cols=("doc_id",), features=("quality_score", "content_hash")
    ).select("doc_id", F.col("quality_score").alias("q"), "content_hash")
    w = Window.partitionBy("content_hash")
    flagged = feats.select(
        "doc_id",
        "q",
        (F.col("doc_id") > F.min("doc_id").over(w)).cast("int").alias(
            "exact_dup_loser"
        ),
    )
    near_losers = (
        srp_banded_near_dup_pairs(emb, dim=64, threshold=_V2_COSINE_THRESHOLD)
        .select(F.col("id_2").alias("doc_id"))
        .distinct()
        .withColumn("_near", F.lit(1))
    )
    joined = flagged.join(near_losers, "doc_id", "left")
    quality_ok = F.col("q") >= _QUALITY_THRESHOLD
    near_loser = F.col("_near").isNotNull()
    return joined.select(
        "doc_id",
        quality_ok.cast("int").alias("quality_ok"),
        "exact_dup_loser",
        near_loser.cast("int").alias("near_dup_loser"),
        (quality_ok & (F.col("exact_dup_loser") == 0) & ~near_loser)
        .cast("int")
        .alias("kept"),
    )


@register(
    "documents_replica_digest",
    tags=("quality", "integrity"),
    description="Order-independent replica-comparison manifest over "
    "documents: 256 md5-buckets, per-bucket row count and two bit_xor'd "
    "60-bit md5 digest lanes — proves two copies of a dataset hold the "
    "same rows without moving either",
    oracle="""
        WITH c AS (
            SELECT concat_ws(chr(31),
                       coalesce(CAST(doc_id AS VARCHAR), '␀'),
                       coalesce(text, '␀'),
                       coalesce(lang, '␀'),
                       coalesce(source, '␀'),
                       coalesce(CAST(n_chars AS VARCHAR), '␀')) AS canon
            FROM documents
        ),
        h AS (
            SELECT ('0x' || substring(md5(canon), 1, 15))::BIGINT AS h1,
                   ('0x' || substring(md5('r2|' || canon), 1, 15))::BIGINT AS h2
            FROM c
        )
        SELECT h1 % 256 AS bucket,
               CAST(count(*) AS BIGINT) AS n_rows,
               bit_xor(h1) AS digest1,
               bit_xor(h2) AS digest2
        FROM h GROUP BY bucket
    """,
)
def documents_replica_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators/quality.py:replica_digest over the full documents row
    (all five columns, integer/string-typed, so the canonical string is
    engine-exact). The oracle IS the use case: an independent engine
    computing the same 256-row manifest over its copy and matching
    bit-for-bit is exactly the replica-equality protocol."""
    from data_algorithms_with_pyspark_spark.operators.quality import (
        replica_digest,
    )

    docs = load_table(spark, sf_dir, "documents")
    return replica_digest(
        docs, ["doc_id", "text", "lang", "source", "n_chars"], n_buckets=256
    )


_KANON_K = 5


@register(
    "customer_k_anonymity_audit",
    tags=("quality", "privacy"),
    description=f"k-anonymity audit (k={_KANON_K}) of customer "
    "quasi-identifiers (nation, segment, banded balance): per-nation "
    "equivalence-class counts and rows re-identifiable by QI linkage "
    "(operators/quality.py:k_anonymity_groups)",
    oracle=f"""
        WITH classes AS (
            SELECT c_nationkey,
                   c_mktsegment,
                   CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
                   count(*) AS n_rows
            FROM customer
            GROUP BY 1, 2, 3
        )
        SELECT c_nationkey,
               CAST(count(*) AS BIGINT) AS n_classes,
               CAST(sum(CASE WHEN n_rows < {_KANON_K} THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_small_classes,
               CAST(sum(CASE WHEN n_rows < {_KANON_K} THEN n_rows ELSE 0 END)
                    AS BIGINT) AS n_rows_at_risk,
               CAST(sum(n_rows) AS BIGINT) AS n_rows
        FROM classes
        GROUP BY c_nationkey
    """,
)
def customer_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pre-release privacy gate: QI = (nation, market segment,
    1000-unit balance band); any QI combination shared by fewer than k
    customers is externally linkable. Two hash aggregates — classes,
    then the per-nation report; the corpus is scanned once and
    everything downstream is |QI classes| rows. The banded balance shows
    the generalization knob: widen the band, rerun the same aggregate."""
    from data_algorithms_with_pyspark_spark.operators.quality import (
        k_anonymity_groups,
    )

    customer = load_table(spark, sf_dir, "customer")
    classes = k_anonymity_groups(
        customer,
        [
            F.col("c_nationkey"),
            F.col("c_mktsegment"),
            F.floor(F.col("c_acctbal") / F.lit(1000.0))
            .cast("long")
            .alias("bal_band"),
        ],
        k=_KANON_K,
    )
    return classes.groupBy("c_nationkey").agg(
        F.count("*").alias("n_classes"),
        F.sum(F.when(F.col("at_risk"), 1).otherwise(0)).alias(
            "n_small_classes"
        ),
        F.sum(F.when(F.col("at_risk"), F.col("n_rows")).otherwise(0)).alias(
            "n_rows_at_risk"
        ),
        F.sum("n_rows").alias("n_rows"),
    )


_PROFILE_COLS = ("o_orderstatus", "o_orderpriority", "o_custkey", "o_orderdate")


@register(
    "orders_column_profile",
    tags=("quality", "profiling"),
    description="One-scan table profiler over orders: per-column row/null/"
    "distinct counts, quantized Shannon entropy, and the modal value "
    "(operators/quality.py:column_profile; stack unpivot -> two hash "
    "aggregates)",
    oracle=f"""
        WITH pairs AS (
            {" UNION ALL ".join(
                f"SELECT '{c}' AS col, CAST({c} AS VARCHAR) AS value FROM orders"
                for c in _PROFILE_COLS
            )}
        ),
        counts AS (
            SELECT col, value, count(*) AS cnt
            FROM pairs GROUP BY col, value
        ),
        tot AS (
            SELECT col,
                   CAST(sum(CASE WHEN value IS NOT NULL THEN cnt
                                 ELSE 0 END) AS BIGINT) AS nn
            FROM counts GROUP BY col
        )
        SELECT c.col AS column,
               CAST(sum(c.cnt) AS BIGINT) AS n_rows,
               CAST(sum(CASE WHEN c.value IS NULL THEN c.cnt ELSE 0 END)
                    AS BIGINT) AS n_nulls,
               CAST(sum(CASE WHEN c.value IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_distinct,
               CAST(sum(CASE WHEN c.value IS NOT NULL
                    THEN CAST(floor(-(CAST(c.cnt AS DOUBLE) / t.nn
                                      * ln(CAST(c.cnt AS DOUBLE) / t.nn))
                                    * 1000000.0 + 0.5) AS BIGINT)
                    ELSE 0 END) AS BIGINT) AS entropy_q,
               max(CASE WHEN c.value IS NOT NULL
                        THEN struct_pack(cnt := c.cnt, value := c.value)
                   END).value AS top_value,
               max(CASE WHEN c.value IS NOT NULL
                        THEN struct_pack(cnt := c.cnt, value := c.value)
                   END).cnt AS top_count
        FROM counts c JOIN tot t ON c.col = t.col
        GROUP BY c.col
    """,
)
def orders_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first query on an unfamiliar table: one corpus scan unpivots
    the profiled columns via stack, then two hash aggregates produce
    per-column cardinality, null, entropy, and modal-value facts.
    Entropy terms quantize to integer micro-nats BEFORE the sum so the
    result is accumulation-order independent; the modal tie-break is
    max(struct(cnt, value)) on both engines."""
    from data_algorithms_with_pyspark_spark.operators.quality import (
        column_profile,
    )

    orders = load_table(spark, sf_dir, "orders")
    return column_profile(orders, list(_PROFILE_COLS))


# --- the end-to-end train-ready composite: curate -> dedup -> split -> pack --
#
# The strongest single demonstration the engine is a coherent tool, not a
# query zoo: every stage above exists as its own attested query
# (corpus_curation_pipeline, documents_leakage_safe_split,
# training_shard_packing); this chains them into the manifest a training
# job actually consumes, in the minimal number of shuffles.

_E2E_TEST_NUM = 1  # test split rate = 1/5, keyed on the content hash
_E2E_TEST_DEN = 5


@register(
    "corpus_train_ready_pipeline",
    tags=("pipeline", "llm-pipeline", "text", "dedup", "packing"),
    description=f"END-TO-END corpus preparation: language/quality curation "
    f"-> exact content-hash dedup (window top-1) -> leakage-safe "
    f"{_E2E_TEST_NUM}/{_E2E_TEST_DEN} train/test split keyed on the content "
    f"hash -> {_PACK_BUDGET}-token greedy shard packing per (split, source, "
    f"bucket) -> the shard manifest a training job consumes; three shuffles "
    "total at any scale",
    oracle=f"""
        WITH scored AS (
            SELECT doc_id, source, text, {_lang_scores_sql()}
            FROM documents
        ),
        featured AS (
            SELECT doc_id, source,
                   {_pred_lang_case_sql()} AS pred_lang,
                   floor(({_quality_score_sql()}) * 10000 + 0.5) / 10000
                       AS quality_score,
                   CAST(len({_TOKENS}) AS BIGINT) AS n_tokens,
                   md5({_NORMALIZED}) AS content_hash
            FROM scored
        ),
        deduped AS (
            SELECT * FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY content_hash ORDER BY doc_id
                ) AS rn FROM featured
            ) WHERE rn = 1
        ),
        kept AS (
            SELECT doc_id, source, n_tokens, content_hash
            FROM deduped
            WHERE pred_lang = '{_CURATION_LANG}'
              AND quality_score >= {_QUALITY_THRESHOLD}
        ),
        tagged AS (
            SELECT doc_id, source, n_tokens,
                   CASE WHEN ('0x' || substring(content_hash, 1, 6))::BIGINT
                             * {_E2E_TEST_DEN} < {16**6} * {_E2E_TEST_NUM}
                        THEN 'test' ELSE 'train' END AS split,
                   doc_id % {_PACK_BUCKETS} AS pack_bucket
            FROM kept
        ),
        packed AS (
            SELECT *,
                   CAST(floor((sum(n_tokens) OVER (
                            PARTITION BY split, source, pack_bucket
                            ORDER BY doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        - n_tokens) / {_PACK_BUDGET}) AS BIGINT) AS shard_id
            FROM tagged
        )
        SELECT split, source, pack_bucket, shard_id,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
               min(doc_id) AS first_doc,
               max(doc_id) AS last_doc
        FROM packed
        GROUP BY split, source, pack_bucket, shard_id
    """,
)
def corpus_train_ready_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curate -> dedup -> split -> pack in one lazy plan, three shuffles:

    1. ONE projection pass computes every per-doc feature (language vote,
       quality score, token count, content hash) — the CPU hot spot stays
       map-side and is evaluated once.
    2. Exact dedup is a top-1-per-content-hash window (row_number -> the
       WindowGroupLimit rewrite prunes to one row per hash BEFORE the
       exchange moves anything) — shuffle #1, keyed on the hash. The
       window form is used instead of corpus_curation_pipeline's
       measured-faster struct-min aggregate because this plan needs the
       surviving row's content_hash downstream for the split key, and the
       window keeps the lint allowlist frozen.
    3. The train/test split keys on the CONTENT HASH (the
       documents_leakage_safe_split rule) — after dedup each hash is
       unique, so the split is leakage-free by construction, and the
       all-integer rational-rate draw replays exactly in the oracle.
    4. Packing is ONE window shuffle on (split, source, pack_bucket)
       (shuffle #2): the exclusive prefix sum of token counts floor-divided
       by the budget assigns shard ids greedily; the manifest roll-up
       groups by a SUPERSET of the window's partition keys, so Catalyst
       reuses the partitioning — no third exchange for the aggregate.

    At 100 TB: parallelism of the pack stage is splits x sources x
    buckets — raise _PACK_BUCKETS to spread; the dedup window's key is
    the full md5 hash (uniform, no skew); nothing here collects, crosses,
    or re-scans the corpus."""
    from pyspark.sql.window import Window

    from data_algorithms_with_pyspark_spark.operators.packing import (
        pack_by_token_budget,
    )

    docs = load_table(spark, sf_dir, "documents")
    # tokenize-once staged feature pass (operators/text.curation_features)
    featured = curation_features(
        spread_partitions(docs.select("doc_id", "source", "text")),
        keep_cols=("doc_id", "source"),
        features=("pred_lang", "quality_score", "n_tokens", "content_hash"),
    )
    w = Window.partitionBy("content_hash").orderBy("doc_id")
    deduped = (
        featured.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )
    kept = deduped.where(
        (F.col("pred_lang") == _CURATION_LANG)
        & (F.col("quality_score") >= _QUALITY_THRESHOLD)
    ).select("doc_id", "source", "n_tokens", "content_hash")
    u = F.conv(F.substring("content_hash", 1, 6), 16, 10).cast("long")
    tagged = kept.select(
        "doc_id",
        "source",
        "n_tokens",
        F.when(
            u * F.lit(_E2E_TEST_DEN) < F.lit(16**6 * _E2E_TEST_NUM), "test"
        )
        .otherwise("train")
        .alias("split"),
        (F.col("doc_id") % _PACK_BUCKETS).alias("pack_bucket"),
    )
    packed = pack_by_token_budget(
        tagged,
        token_col="n_tokens",
        budget=_PACK_BUDGET,
        partition_cols=["split", "source", "pack_bucket"],
        order_col="doc_id",
    )
    return packed.groupBy("split", "source", "pack_bucket", "shard_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


@register(
    "corpus_mixture_temperature_weights",
    tags=("pipeline", "sampling", "scale"),
    description="Temperature-scaled source-mixture planning: per-source "
    "sampling weights w_i ~ n_tokens^(1/T) for T in {1,2,4} and the "
    "implied per-source epoch multiplier at a one-corpus-pass token "
    "budget — the low-resource-upsampling knob rendered as data; scores "
    "use sqrt chains only (correctly-rounded IEEE on every engine, never "
    "libm pow) and integer-grid weights",
    oracle=f"""
        WITH t AS (SELECT source, len({_TOKENS}) AS nt FROM documents),
        per_src AS (
            SELECT source,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(nt) AS BIGINT) AS n_tokens
            FROM t GROUP BY source
        ),
        expanded AS (
            SELECT source, n_docs, n_tokens, tt.temperature
            FROM per_src, (SELECT unnest([1, 2, 4]) AS temperature) tt
            WHERE n_tokens > 0
        ),
        scored AS (
            SELECT source, n_docs, n_tokens, temperature,
                   CAST(floor(
                       CASE temperature
                           WHEN 1 THEN CAST(n_tokens AS DOUBLE)
                           WHEN 2 THEN sqrt(CAST(n_tokens AS DOUBLE))
                           ELSE sqrt(sqrt(CAST(n_tokens AS DOUBLE)))
                       END * 1e6 + 0.5) AS BIGINT) AS score_micro
            FROM expanded
        ),
        tot AS (
            SELECT temperature,
                   CAST(sum(score_micro) AS BIGINT) AS total_micro,
                   CAST(sum(n_tokens) AS BIGINT) AS corpus_tokens
            FROM scored GROUP BY temperature
        )
        SELECT s.source,
               CAST(s.temperature AS BIGINT) AS temperature,
               s.n_docs, s.n_tokens, s.score_micro,
               CAST(floor(CAST(s.score_micro AS DOUBLE)
                          / CAST(t.total_micro AS DOUBLE) * 1e6 + 0.5)
                   AS BIGINT) AS weight_ppm,
               CAST(floor(CAST(s.score_micro AS DOUBLE)
                          / CAST(t.total_micro AS DOUBLE)
                          * CAST(t.corpus_tokens AS DOUBLE)
                          / CAST(s.n_tokens AS DOUBLE) * 1000 + 0.5)
                   AS BIGINT) AS epochs_milli
        FROM scored s JOIN tot t ON s.temperature = t.temperature
    """,
)
def corpus_mixture_temperature_weights(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The data-mixing DESIGN step that precedes
    ``corpus_weighted_mixture_sample``'s execution step: given per-source
    token masses, compute temperature-scaled sampling weights
    ``w_i = n_i^(1/T) / sum_j n_j^(1/T)`` (T=1 proportional, higher T
    flattens toward uniform — the standard low-resource upsampling knob)
    and the per-source epoch multiplier ``w_i * N / n_i`` implied by a
    one-corpus-pass budget; epochs_milli > 1000 on a source means that
    mixture repeats it.

    Scale shape: ONE corpus scan feeds a per-source integer aggregate;
    everything after runs on source-count-sized rows (explode 3
    temperatures, one tiny window sum per temperature) — the 100 TB cost
    is the token count you already compute for the dataset card.
    Determinism: temperatures are powers of two so scores are sqrt
    CHAINS (sqrt is correctly-rounded IEEE-754 on both engines; libm
    ``pow`` is not and may differ in the last ulp), scores quantize to
    an integer micro grid, totals are exact integer sums (order-free),
    and each output ratio is a pinned left-assoc chain of single IEEE
    ops on exact integers."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    per_src = (
        docs.select("source", F.size(words("text")).cast("long").alias("nt"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("nt").alias("n_tokens"),
        )
        .where(F.col("n_tokens") > 0)
    )
    expanded = per_src.withColumn(
        "temperature",
        F.explode(
            F.array(
                F.lit(1).cast("long"),
                F.lit(2).cast("long"),
                F.lit(4).cast("long"),
            )
        ),
    )
    nt_d = F.col("n_tokens").cast("double")
    score = (
        F.when(F.col("temperature") == 1, nt_d)
        .when(F.col("temperature") == 2, F.sqrt(nt_d))
        .otherwise(F.sqrt(F.sqrt(nt_d)))
    )
    scored = expanded.withColumn(
        "score_micro",
        F.floor(score * F.lit(1e6) + F.lit(0.5)).cast("long"),
    )
    w = Window.partitionBy("temperature")
    total_micro = F.sum("score_micro").over(w)
    corpus_tokens = F.sum("n_tokens").over(w)
    frac = F.col("score_micro") / total_micro
    return scored.select(
        "source",
        "temperature",
        "n_docs",
        "n_tokens",
        "score_micro",
        F.floor(frac * F.lit(1e6) + F.lit(0.5)).cast("long").alias(
            "weight_ppm"
        ),
        F.floor(
            frac * corpus_tokens / F.col("n_tokens") * F.lit(1000)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("epochs_milli"),
    )


_NEYMAN_BUDGET = 1000


@register(
    "corpus_neyman_sample_allocation",
    tags=("pipeline", "sampling", "scale"),
    description=f"Neyman-optimal QC-sample allocation: a {_NEYMAN_BUDGET}-doc "
    "audit budget split over sources by n_i ~ N_i*sigma_i (per-source "
    "doc-length std — variance-heavy sources get oversampled relative to "
    "proportional allocation, which rides along for contrast); variance "
    "from exact integer sum/sum-of-squares, sigma via one sqrt, "
    "integer-grid scores",
    oracle=f"""
        WITH t AS (SELECT source, len({_TOKENS}) AS nt FROM documents),
        per AS (
            SELECT source,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(nt) AS BIGINT) AS tok_sum,
                   CAST(sum(nt * nt) AS BIGINT) AS tok_ssq
            FROM t GROUP BY source
        ),
        scored AS (
            SELECT source, n_docs, tok_sum, tok_ssq,
                   CAST(floor(sqrt((CAST(tok_ssq AS DOUBLE)
                              - CAST(tok_sum AS DOUBLE)
                                * CAST(tok_sum AS DOUBLE)
                                / CAST(n_docs AS DOUBLE))
                              / CAST(n_docs AS DOUBLE))
                        * 1e6 + 0.5) AS BIGINT) AS sigma_micro
            FROM per
        ),
        sc2 AS (
            SELECT *,
                   CAST(n_docs AS BIGINT) * sigma_micro AS score_units
            FROM scored
        ),
        tot AS (
            SELECT CAST(sum(score_units) AS BIGINT) AS total_units,
                   CAST(sum(n_docs) AS BIGINT) AS total_docs
            FROM sc2
        )
        SELECT s.source, s.n_docs, s.tok_sum, s.tok_ssq, s.sigma_micro,
               CAST(floor({_NEYMAN_BUDGET}.0
                    * (CAST(s.score_units AS DOUBLE)
                       / CAST(t.total_units AS DOUBLE)) + 0.5) AS BIGINT)
                   AS neyman_n,
               CAST(floor({_NEYMAN_BUDGET}.0
                    * (CAST(s.n_docs AS DOUBLE)
                       / CAST(t.total_docs AS DOUBLE)) + 0.5) AS BIGINT)
                   AS proportional_n
        FROM sc2 s, tot t
    """,
)
def corpus_neyman_sample_allocation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The third sampling DESIGN primitive (after rational-hash mixing
    and temperature weighting): how to spend a fixed human/LLM QC-audit
    budget across sources so the corpus-level quality estimate has
    minimum variance — Neyman allocation n_i ~ N_i*sigma_i oversamples
    heterogeneous sources (classic survey sampling; at 100 TB the QC
    budget is the scarce resource, not compute). Determinism recipe:
    per-source variance from EXACT integer (sum, sum-of-squares)
    aggregates (order-free; doc token counts keep nt^2 sums well inside
    int64 here — a 10^13-token deployment would widen to DECIMAL), one
    correctly-rounded sqrt, integer micro-grid sigma, integer score
    totals, and pinned single-division ratio chains. Scale shape: one
    corpus scan, then source-count-sized rows."""
    docs = load_table(spark, sf_dir, "documents")
    per = (
        docs.select("source", F.size(words("text")).cast("long").alias("nt"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("nt").alias("tok_sum"),
            F.sum(F.col("nt") * F.col("nt")).alias("tok_ssq"),
        )
    )
    nd = F.col("n_docs").cast("double")
    var = (
        F.col("tok_ssq").cast("double")
        - F.col("tok_sum").cast("double") * F.col("tok_sum").cast("double") / nd
    ) / nd
    scored = per.withColumn(
        "sigma_micro",
        F.floor(F.sqrt(var) * F.lit(1e6) + F.lit(0.5)).cast("long"),
    ).withColumn(
        "score_units", F.col("n_docs") * F.col("sigma_micro")
    )
    # totals as a 1-row partial+final aggregate broadcast back onto the
    # source rows (the zorder min/max pattern) — a global Window here
    # would funnel the rows through a raw SinglePartition exchange
    totals = scored.agg(
        F.sum("score_units").alias("total_units"),
        F.sum("n_docs").alias("total_docs"),
    )
    budget = F.lit(float(_NEYMAN_BUDGET))
    return scored.crossJoin(F.broadcast(totals)).select(
        "source",
        "n_docs",
        "tok_sum",
        "tok_ssq",
        "sigma_micro",
        F.floor(
            budget
            * (
                F.col("score_units").cast("double")
                / F.col("total_units").cast("double")
            )
            + F.lit(0.5)
        )
        .cast("long")
        .alias("neyman_n"),
        F.floor(
            budget
            * (
                F.col("n_docs").cast("double")
                / F.col("total_docs").cast("double")
            )
            + F.lit(0.5)
        )
        .cast("long")
        .alias("proportional_n"),
    )
