"""The reference's composite algorithms (SURVEY.md §2.13), re-expressed as
single declarative DataFrame plans over the synthetic tables.

Mapping (reference file -> catalog query):
  rdd_transformations_overview.py:27-37 word count      -> word_count
  dna_base_count_ver_{1,2,3}.py char counting           -> char_count
      (the three RDD variants differ only in shuffle volume; the DataFrame
       plan IS the optimal variant — Spark's partial aggregation does the
       in-mapper combining of ver_3 automatically)
  average_by_key_reducebykey.py / movie_avg_rating.py   -> avg_quantity_by_returnflag
  reduction_warmup.py sum-by-key (4 RDD ways)           -> sum_quantity_by_linestatus
  mappartitions_transformation.py per-partition stats   -> events_value_stats
      (per-partition intermediates are an execution detail; the global
       min/max/sum/count + sign buckets are the semantics)
  graph_basics.py / flight_analysis.py                  -> graph_* queries
  flight_analysis.py:61-88 route analytics              -> event_type_stats

Graph edges derive deterministically from lineitem keys (20-vertex directed
graph: src = l_orderkey % 20, dst = l_partkey % 20) so graph queries are
oracle-checkable on the star schema (FIXTURES.md §2 suggests key-pair
derived edges).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_algorithms_with_pyspark_spark.functions.text_functions import (
    char_counts_expr,
    words,
)
from data_algorithms_with_pyspark_spark.operators.graph import (
    bidirectional_edges,
    degrees,
    triangles,
    two_hop_paths,
)
from data_algorithms_with_pyspark_spark.operators.dedup import floor_round
from data_algorithms_with_pyspark_spark.plans.catalog import register
from data_algorithms_with_pyspark_spark.sources.readers import load_table

_N_GRAPH_VERTICES = 20

_EDGES_SQL = f"""
        SELECT DISTINCT l_orderkey % {_N_GRAPH_VERTICES} AS src,
                        l_partkey % {_N_GRAPH_VERTICES} AS dst
        FROM lineitem
        WHERE l_orderkey % {_N_GRAPH_VERTICES} <> l_partkey % {_N_GRAPH_VERTICES}
"""


def derived_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deterministic 20-vertex test graph (directed, no self-loops)."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        lineitem.select(
            (F.col("l_orderkey") % _N_GRAPH_VERTICES).alias("src"),
            (F.col("l_partkey") % _N_GRAPH_VERTICES).alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


@register(
    "word_count",
    tags=("reference", "text"),
    description="Word count over documents.text (rdd_transformations_overview.py:27-37)",
    oracle="""
        SELECT word, count(*) AS n
        FROM (
            SELECT unnest(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                                      w -> len(w) > 0)) AS word
            FROM documents
        )
        GROUP BY word
    """,
)
def word_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(words("text")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )


@register(
    "char_count",
    tags=("reference", "text"),
    description="Character frequencies (DNA base count shape, dna_base_count_ver_*.py)",
    oracle="""
        SELECT ch, count(*) AS n
        FROM (
            SELECT unnest(regexp_extract_all(lower(text), '[a-z]')) AS ch
            FROM documents
        )
        GROUP BY ch
    """,
)
def char_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(char_counts_expr("text")).alias("ch"))
        .groupBy("ch")
        .agg(F.count("*").alias("n"))
    )


@register(
    "avg_quantity_by_returnflag",
    tags=("reference", "aggregate"),
    description="Monoid-safe average by key (average_by_key_reducebykey.py, "
    "movie_avg_rating.py — Spark's avg is the correct (sum,count) monoid)",
    oracle="""
        SELECT l_returnflag,
               floor(avg(l_quantity) * 100 + 0.5) / 100 AS avg_qty,
               count(*) AS n
        FROM lineitem
        GROUP BY l_returnflag
    """,
)
def avg_quantity_by_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """avg of integer-valued doubles is an exact ratio (bit-identical on
    every engine), so the 2-dp rounding uses the floor(x*100+0.5) form —
    round() is repr-based on Spark and diverges at exact decimal halves
    (the cume_dist bug class)."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    return lineitem.groupBy("l_returnflag").agg(
        (F.floor(F.avg("l_quantity") * F.lit(100.0) + F.lit(0.5)) / F.lit(100.0))
        .alias("avg_qty"),
        F.count("*").alias("n"),
    )


@register(
    "sum_quantity_by_linestatus",
    tags=("reference", "aggregate"),
    description="Sum by key — the reference's 4 RDD reduction styles "
    "(reduceByKey/groupByKey/aggregateByKey/combineByKey, reduction_warmup.py) "
    "collapse to one hash-aggregate plan",
    oracle="""
        SELECT l_linestatus, round(sum(l_quantity), 2) AS sum_qty
        FROM lineitem
        GROUP BY l_linestatus
    """,
)
def sum_quantity_by_linestatus(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    return lineitem.groupBy("l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty")
    )


@register(
    "events_value_stats",
    tags=("reference", "aggregate"),
    description="Global stats + sign buckets (mappartitions_transformation.py "
    "per-partition summaries — semantics are the global aggregate)",
    oracle="""
        SELECT floor(min(value) * 10000 + 0.5) / 10000 AS min_value,
               floor(max(value) * 10000 + 0.5) / 10000 AS max_value,
               floor(sum(value) * 100 + 0.5) / 100 AS sum_value,
               count(*)             AS n,
               count(*) FILTER (WHERE value < 0) AS n_negative,
               count(*) FILTER (WHERE value = 0) AS n_zero,
               count(*) FILTER (WHERE value > 0) AS n_positive
        FROM events
    """,
)
def events_value_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return events.agg(
        floor_round(F.min("value"), 4).alias("min_value"),
        floor_round(F.max("value"), 4).alias("max_value"),
        floor_round(F.sum("value"), 2).alias("sum_value"),
        F.count("*").alias("n"),
        F.count(F.when(F.col("value") < 0, 1)).alias("n_negative"),
        F.count(F.when(F.col("value") == 0, 1)).alias("n_zero"),
        F.count(F.when(F.col("value") > 0, 1)).alias("n_positive"),
    )


@register(
    "event_type_stats",
    tags=("reference", "aggregate"),
    description="Route-analytics shape: count/avg/max per key "
    "(flight_analysis.py:61-88)",
    oracle="""
        SELECT event_type,
               count(*) AS n_events,
               floor(avg(value) * 10000 + 0.5) / 10000 AS avg_value,
               floor(max(value) * 10000 + 0.5) / 10000 AS max_value
        FROM events
        GROUP BY event_type
    """,
)
def event_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        floor_round(F.avg("value"), 4).alias("avg_value"),
        floor_round(F.max("value"), 4).alias("max_value"),
    )


@register(
    "graph_degrees",
    tags=("graph",),
    description="In/out/total degree via two aggs + full outer join + fillna "
    "(graph_basics.py:45-62, flight_analysis.py:48-58)",
    oracle=f"""
        WITH edges AS ({_EDGES_SQL}),
        out_deg AS (SELECT src AS id, count(*) AS out_degree FROM edges GROUP BY src),
        in_deg  AS (SELECT dst AS id, count(*) AS in_degree  FROM edges GROUP BY dst)
        SELECT COALESCE(o.id, i.id) AS id,
               COALESCE(out_degree, 0) AS out_degree,
               COALESCE(in_degree, 0)  AS in_degree,
               COALESCE(out_degree, 0) + COALESCE(in_degree, 0) AS total_degree
        FROM out_deg o FULL OUTER JOIN in_deg i ON o.id = i.id
    """,
)
def graph_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    deg = degrees(derived_edges(spark, sf_dir))
    return deg.select("id", "out_degree", "in_degree", "total_degree")


@register(
    "graph_bidirectional_edges",
    tags=("graph",),
    description="Mutual-edge pairs via reversed self-join (graph_basics.py:70-88)",
    oracle=f"""
        WITH edges AS ({_EDGES_SQL})
        SELECT DISTINCT e1.src AS a, e1.dst AS b
        FROM edges e1 JOIN edges e2 ON e1.src = e2.dst AND e1.dst = e2.src
        WHERE e1.src < e1.dst
    """,
)
def graph_bidirectional_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bidirectional_edges(derived_edges(spark, sf_dir))


@register(
    "graph_two_hop_paths",
    tags=("graph",),
    description="2-hop reachability with middle-vertex counts "
    "(graph_basics.py:91-107, connecting flights flight_analysis.py:96-132)",
    oracle=f"""
        WITH edges AS ({_EDGES_SQL})
        SELECT e1.src AS a, e2.dst AS c,
               count(DISTINCT e1.dst) AS n_paths
        FROM edges e1 JOIN edges e2 ON e1.dst = e2.src
        WHERE e1.src <> e2.dst
        GROUP BY e1.src, e2.dst
    """,
)
def graph_two_hop_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    return two_hop_paths(derived_edges(spark, sf_dir))


@register(
    "graph_triangles",
    tags=("graph",),
    description="Directed 3-cycles, canonical a=min orientation "
    "(graph_basics.py:110-132 triple self-join)",
    oracle=f"""
        WITH edges AS ({_EDGES_SQL})
        SELECT DISTINCT e1.src AS a, e1.dst AS b, e2.dst AS c
        FROM edges e1
        JOIN edges e2 ON e1.dst = e2.src
        JOIN edges e3 ON e2.dst = e3.src AND e3.dst = e1.src
        WHERE e1.src < e1.dst AND e1.src < e2.dst
    """,
)
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return triangles(derived_edges(spark, sf_dir))


# --- iterative graph algorithms (operators/iterative.py) --------------------

# Sparse blocked test graph for connected components: vertices 0..199, edges
# only inside each block of 5 ids -> 40 components for min-label propagation
# to find. Deterministic and SQL-expressible, like _EDGES_SQL.
_CC_EDGES_SQL = """
        SELECT DISTINCT (l_orderkey % 200) AS src,
               ((l_orderkey % 200) - ((l_orderkey % 200) % 5)) + (l_partkey % 5) AS dst
        FROM lineitem
        WHERE l_linenumber = 1 AND l_orderkey % 7 = 0
          AND (l_orderkey % 200)
              <> ((l_orderkey % 200) - ((l_orderkey % 200) % 5)) + (l_partkey % 5)
"""


def _cc_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    src = F.col("l_orderkey") % 200
    dst = (src - (src % 5)) + (F.col("l_partkey") % 5)
    return (
        lineitem.where((F.col("l_linenumber") == 1) & (F.col("l_orderkey") % 7 == 0))
        .select(src.alias("src"), dst.alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


@register(
    "graph_connected_components",
    tags=("graph", "iterative"),
    description="Connected components by iterative min-label propagation "
    "(driver loop + localCheckpoint; oracle = recursive-CTE closure)",
    oracle=f"""
        WITH RECURSIVE und AS (
            SELECT src, dst FROM ({_CC_EDGES_SQL})
            UNION
            SELECT dst, src FROM ({_CC_EDGES_SQL})
        ),
        reach(id, r) AS (
            SELECT id, id FROM (SELECT DISTINCT src AS id FROM und)
            UNION
            SELECT reach.id, und.dst FROM reach JOIN und ON und.src = reach.r
        )
        SELECT id, CAST(min(r) AS BIGINT) AS component
        FROM reach GROUP BY id
    """,
)
def graph_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_algorithms_with_pyspark_spark.operators.iterative import (
        connected_components,
    )

    return connected_components(_cc_edges(spark, sf_dir))


def _pagerank_oracle_sql(iterations: int, damping: float) -> str:
    """Unrolled fixed-iteration PageRank as chained CTEs (DuckDB oracle)."""
    d = damping
    # MATERIALIZED is load-bearing: each r{i} references r{i-1} twice, and
    # DuckDB inlines plain CTEs -> exponential plan expansion by r10.
    ctes = [
        f"edges AS MATERIALIZED ({_EDGES_SQL})",
        "verts AS MATERIALIZED (SELECT src AS id FROM edges UNION SELECT dst FROM edges)",
        "nv AS MATERIALIZED (SELECT count(*) AS n FROM verts)",
        "deg AS MATERIALIZED (SELECT src AS id, count(*) AS out_deg FROM edges GROUP BY src)",
        "r0 AS MATERIALIZED (SELECT id, 1.0 / (SELECT n FROM nv) AS rank FROM verts)",
    ]
    for i in range(1, iterations + 1):
        p = f"r{i - 1}"
        ctes.append(f"""
        r{i} AS MATERIALIZED (
            SELECT v.id,
                   (1 - {d}) / (SELECT n FROM nv)
                   + {d} * (
                       COALESCE(c.in_rank, 0)
                       + (SELECT COALESCE(sum(r.rank), 0) FROM {p} r
                          LEFT JOIN deg ON r.id = deg.id
                          WHERE deg.id IS NULL) / (SELECT n FROM nv)
                   ) AS rank
            FROM verts v
            LEFT JOIN (
                SELECT e.dst AS id, sum(r.rank / deg.out_deg) AS in_rank
                FROM edges e
                JOIN {p} r ON e.src = r.id
                JOIN deg ON deg.id = e.src
                GROUP BY e.dst
            ) c ON v.id = c.id
        )""")
    return (
        "WITH "
        + ",".join(ctes)
        + f" SELECT id, floor(rank * 1000000 + 0.5) / 1000000 AS rank FROM r{iterations}"
    )


@register(
    "graph_pagerank",
    tags=("graph", "iterative"),
    description="PageRank, 10 fixed iterations with dangling-mass handling "
    "(driver loop + localCheckpoint; oracle = unrolled per-iteration CTEs)",
    oracle=_pagerank_oracle_sql(10, 0.85),
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_algorithms_with_pyspark_spark.operators.iterative import pagerank

    ranks = pagerank(derived_edges(spark, sf_dir), iterations=10, damping=0.85)
    return ranks.select("id", floor_round(F.col("rank"), 6).alias("rank"))


@register(
    "sql_nation_supplier_analytics",
    tags=("relational", "sql-entrypoint"),
    description="Entry-point C parity (SURVEY §3.3): SQL string over "
    "registered temp views, the csv_json_operations.py:198-202 pattern",
    oracle="""
        SELECT n_name,
               CAST(count(*) AS BIGINT) AS n_suppliers,
               round(CAST(sum(CAST(floor(s_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT)
                     / 100.0 / count(*), 2) AS avg_acctbal
        FROM supplier JOIN nation ON s_nationkey = n_nationkey
        GROUP BY n_name
    """,
)
def sql_nation_supplier_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Deliberately exercises the engine's third entry-point shape: DataFrames
    # registered as temp views, computation declared as a SQL string; the
    # Catalyst pipeline (parse -> analyze -> optimize -> execute) is
    # identical to the DataFrame form.
    load_table(spark, sf_dir, "supplier").createOrReplaceTempView("supplier_v")
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("nation_v")
    # 100.0D: Spark SQL parses a bare `100.0` literal as DECIMAL (unlike the
    # DataFrame API's double lit), which would decimal-type the whole ratio.
    return spark.sql("""
        SELECT n_name,
               count(*) AS n_suppliers,
               round(CAST(sum(floor(s_acctbal * 100 + 0.5D)) AS DOUBLE) / 100.0D
                     / count(*), 2) AS avg_acctbal
        FROM supplier_v JOIN nation_v ON s_nationkey = n_nationkey
        GROUP BY n_name
    """)


_SSSP_SOURCE = 0
_SSSP_MAX_HOPS = 6


@register(
    "graph_shortest_paths",
    tags=("graph", "iterative"),
    description=f"Hop-bounded BFS shortest paths from vertex {_SSSP_SOURCE} "
    "(driver-loop relaxation with early exit; oracle = depth-bounded "
    "recursive CTE)",
    oracle=f"""
        WITH RECURSIVE e AS ({_EDGES_SQL}),
        walk(id, d) AS (
            SELECT CAST({_SSSP_SOURCE} AS BIGINT), 0
            UNION
            SELECT e.dst, walk.d + 1
            FROM walk JOIN e ON e.src = walk.id
            WHERE walk.d < {_SSSP_MAX_HOPS}
        )
        SELECT id, CAST(min(d) AS BIGINT) AS distance
        FROM walk GROUP BY id
    """,
)
def graph_shortest_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_algorithms_with_pyspark_spark.operators.iterative import (
        shortest_paths,
    )

    return shortest_paths(
        derived_edges(spark, sf_dir), _SSSP_SOURCE, _SSSP_MAX_HOPS
    )


# Chain-structured test graph for star-contraction CC: four 60-vertex
# chains (0-59, 60-119, 120-179, 180-239) — diameter 59, the regime where
# min-label propagation needs O(diameter) rounds and star contraction
# needs O(log n): measured 10.0s vs 75.3s on a 400-vertex chain, see
# PLANS.md.
_CHAIN_EDGES_SQL = """
        SELECT DISTINCT (l_orderkey % 240) AS src,
                        (l_orderkey % 240) + 1 AS dst
        FROM lineitem
        WHERE (l_orderkey % 240) % 60 <> 59
"""


def _chain_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    src = F.col("l_orderkey") % 240
    return (
        lineitem.where(src % 60 != 59)
        .select(src.alias("src"), (src + 1).alias("dst"))
        .distinct()
    )


@register(
    "graph_cc_star_contraction",
    tags=("graph", "iterative"),
    description="Connected components by alternating large-star/small-star "
    "contraction (Kiveris et al. SoCC'14) over a 4-chain diameter-59 graph "
    "— O(log n) rounds vs label propagation's O(diameter); oracle = "
    "recursive-CTE reachability closure",
    oracle=f"""
        WITH RECURSIVE und AS (
            SELECT src, dst FROM ({_CHAIN_EDGES_SQL})
            UNION
            SELECT dst, src FROM ({_CHAIN_EDGES_SQL})
        ),
        reach(id, r) AS (
            SELECT id, id FROM (SELECT DISTINCT src AS id FROM und)
            UNION
            SELECT reach.id, und.dst FROM reach JOIN und ON und.src = reach.r
        )
        SELECT id, CAST(min(r) AS BIGINT) AS component
        FROM reach GROUP BY id
    """,
)
def graph_cc_star_contraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_algorithms_with_pyspark_spark.operators.iterative import (
        connected_components_star,
    )

    return connected_components_star(_chain_edges(spark, sf_dir))


# Community-structured test graph for label propagation: vertices 0..239 in
# 24 blocks of 10; dense intra-block edges from (orderkey, suppkey) hashes
# plus sparse next-block bridges (every 53rd order) so the algorithm has
# both clear communities and cross-community noise to vote down.
_LPA_ITERS = 5
_LPA_EDGES_SQL = """
        SELECT DISTINCT src, dst FROM (
            SELECT l_orderkey % 240 AS src,
                   (l_orderkey % 240) - ((l_orderkey % 240) % 10)
                   + (l_suppkey % 10) AS dst
            FROM lineitem WHERE l_linenumber = 1
            UNION ALL
            SELECT l_orderkey % 240, ((l_orderkey % 240) + 10) % 240
            FROM lineitem WHERE l_linenumber = 1 AND l_orderkey % 53 = 0
        ) WHERE src <> dst
"""


def _lpa_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_linenumber") == 1
    )
    src = F.col("l_orderkey") % 240
    intra = lineitem.select(
        src.alias("src"),
        (src - (src % 10) + (F.col("l_suppkey") % 10)).alias("dst"),
    )
    bridge = lineitem.where(F.col("l_orderkey") % 53 == 0).select(
        src.alias("src"), ((src + 10) % 240).alias("dst")
    )
    return (
        intra.unionByName(bridge)
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def _lpa_oracle_sql(iterations: int = _LPA_ITERS) -> str:
    """Unrolled synchronous-LPA rounds as chained CTEs. All state is
    integer (labels are vertex ids, votes are counts), so the replay is
    exact with no float discipline; the per-round argmax is the same
    (count DESC, label ASC) order on both engines."""
    ctes = [
        f"e AS MATERIALIZED ({_LPA_EDGES_SQL})",
        "und AS MATERIALIZED (SELECT src, dst FROM e "
        "UNION SELECT dst, src FROM e)",
        "l0 AS MATERIALIZED (SELECT DISTINCT src AS id, src AS label FROM und)",
    ]
    for t in range(1, iterations + 1):
        ctes.append(f"""
        l{t} AS MATERIALIZED (
            SELECT id, label FROM (
                SELECT c.id, c.label,
                       row_number() OVER (
                           PARTITION BY c.id
                           ORDER BY c.cnt DESC, c.label ASC
                       ) AS rn
                FROM (
                    SELECT u.src AS id, l.label, count(*) AS cnt
                    FROM und u JOIN l{t - 1} l ON u.dst = l.id
                    GROUP BY 1, 2
                ) c
            ) WHERE rn = 1
        )""")
    return (
        "WITH "
        + ",".join(ctes)
        + f" SELECT CAST(id AS BIGINT) AS id, CAST(label AS BIGINT) AS label"
        f" FROM l{iterations}"
    )


@register(
    "graph_label_propagation",
    tags=("graph", "iterative"),
    description=f"Label-propagation community detection, {_LPA_ITERS} fixed "
    "synchronous rounds with min-label tie-break (driver loop + "
    "localCheckpoint; oracle = unrolled per-round CTEs — all-integer "
    "state, exact replay)",
    oracle=_lpa_oracle_sql(),
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_algorithms_with_pyspark_spark.operators.iterative import (
        label_propagation,
    )

    return label_propagation(_lpa_edges(spark, sf_dir), iterations=_LPA_ITERS)


@register(
    "fasta_base_count",
    tags=("reference", "text", "file-source"),
    description="DNA base count over a real FASTA text FILE — S2 end-to-end "
    "(write deterministic FASTA derived from documents, read_text, filter "
    "'>' headers, per-base counts; dna_base_count_ver_1.py:75-82 on file "
    "input rather than a table)",
    oracle="""
        WITH seqs AS (
            SELECT regexp_replace(lower(text), '[^acgt]', '', 'g') AS seq
            FROM documents
        ),
        counts AS (
            SELECT b.base,
                   CAST(sum(len(seq) - len(replace(seq, b.base, ''))) AS BIGINT) AS n
            FROM seqs, (SELECT unnest(['a', 'c', 'g', 't']) AS base) b
            GROUP BY b.base
        )
        SELECT base, n FROM counts WHERE n > 0
    """,
)
def fasta_base_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's FASTA pipeline shape on an actual text FILE: a
    deterministic FASTA ('>doc_N' headers + acgt-projected document text)
    is (re)written under the system temp dir, then the counting pipeline
    runs from ``read_text`` — line scan -> header filter -> char explode ->
    hash aggregate. The oracle computes the same counts straight from the
    documents table (the file content is a pure function of it), so this
    is the one catalog query that value-checks the text-file SOURCE, not
    just the transform."""
    from data_algorithms_with_pyspark_spark.scratch import scratch_dir
    from data_algorithms_with_pyspark_spark.sources.readers import read_text

    docs = load_table(spark, sf_dir, "documents")
    path = scratch_dir("fasta", sf_dir)
    headers = docs.select(
        F.concat(F.lit(">doc_"), F.col("doc_id").cast("string")).alias("value")
    )
    seqs = docs.select(
        F.regexp_replace(F.lower(F.col("text")), "[^acgt]", "").alias("value")
    )
    headers.unionByName(seqs).write.mode("overwrite").text(path)
    lines = read_text(spark, path)
    return (
        lines.where(~F.col("value").startswith(">"))
        .select(F.explode(F.split(F.col("value"), "")).alias("base"))
        .where(F.col("base").isin("a", "c", "g", "t"))
        .groupBy("base")
        .agg(F.count("*").alias("n"))
    )


@register(
    "fasta_pyds_record_stats",
    tags=("reference", "text", "file-source", "pyds"),
    description="FASTA connector ROUNDTRIP via a Spark 4 Python DataSource "
    "(SPARK-44076): records written by the custom Arrow SINK (two-phase "
    "commit, one file per partition, 60-char wrapping) and reassembled by "
    "the custom Arrow SOURCE (one InputPartition per file) — a record "
    "view no line scan can produce; per-length-bucket rollup value-checks "
    "both directions against the documents table the file derives from",
    oracle="""
        WITH seqs AS (
            SELECT doc_id,
                   regexp_replace(lower(text), '[^acgt]', '', 'g') AS seq
            FROM documents
        ),
        per AS (
            SELECT doc_id,
                   CAST(len(seq) AS BIGINT) AS seq_len,
                   CAST(len(seq)
                        - len(replace(replace(seq, 'g', ''), 'c', ''))
                        AS BIGINT) AS gc_n
            FROM seqs
        )
        SELECT CAST(floor(seq_len / 100.0) AS BIGINT) AS len_bucket,
               CAST(count(*) AS BIGINT) AS n_records,
               CAST(sum(seq_len) AS BIGINT) AS chars_total,
               CAST(sum(gc_n) AS BIGINT) AS gc_total,
               CAST(min(doc_id) AS BIGINT) AS min_doc_id,
               CAST(max(doc_id) AS BIGINT) AS max_doc_id,
               CAST(sum(doc_id) AS BIGINT) AS sum_doc_id
        FROM per
        GROUP BY 1
    """,
)
def fasta_pyds_record_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The record-granular FASTA view ``fasta_base_count``'s line scan
    cannot express, driven through BOTH halves of the custom connector
    (``sources/pyds.py``): the WRITE goes through the Python DataSource
    Arrow sink (per-partition files, 60-char wrapping, two-phase
    commit), the READ back through its Arrow reader (per-file
    InputPartitions, record reassembly). Downstream is ordinary
    Catalyst: header -> doc_id, per-record length/GC, one hash aggregate
    per length bucket. The oracle computes the same stats straight from
    ``documents`` (the file content is a pure function of it), so a
    wrap/assembly/association/commit bug in either half shows up as a
    value mismatch, not just a row-count drift."""
    from data_algorithms_with_pyspark_spark.scratch import scratch_dir
    from data_algorithms_with_pyspark_spark.sources.pyds import (
        register_fasta_source,
    )

    docs = load_table(spark, sf_dir, "documents")
    path = scratch_dir("fastapyds", sf_dir)
    register_fasta_source(spark)
    docs.select(
        F.concat(F.lit("doc_"), F.col("doc_id").cast("string")).alias(
            "header"
        ),
        F.regexp_replace(F.lower(F.col("text")), "[^acgt]", "").alias(
            "sequence"
        ),
    ).write.format("fasta").mode("overwrite").option("path", path).option(
        "wrap", "60"
    ).save()
    records = spark.read.format("fasta").option("path", path).load()
    per = records.select(
        F.regexp_extract(F.col("header"), r"^doc_(\d+)$", 1)
        .cast("long")
        .alias("doc_id"),
        F.length("sequence").cast("long").alias("seq_len"),
        (
            F.length("sequence")
            - F.length(F.translate(F.col("sequence"), "gc", ""))
        )
        .cast("long")
        .alias("gc_n"),
    )
    return per.groupBy(
        F.floor(F.col("seq_len") / F.lit(100.0)).cast("long").alias(
            "len_bucket"
        )
    ).agg(
        F.count("*").alias("n_records"),
        F.sum("seq_len").alias("chars_total"),
        F.sum("gc_n").alias("gc_total"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
        F.sum("doc_id").alias("sum_doc_id"),
    )


@register(
    "orders_orc_roundtrip_digest",
    tags=("reference", "file-source", "sink", "format"),
    description="ORC format lane (the built-in columnar format the K/S "
    "inventory had not yet exercised): orders written to ORC partitioned "
    "by priority (hive layout, partition discovery on read-back), then a "
    "per-priority digest — row count, exact integer-cent revenue, "
    "orderkey extents, order-date extents — value-checks the full "
    "write/read roundtrip including the timestamp lane against the "
    "parquet original the oracle reads",
    oracle="""
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                   AS BIGINT) AS total_cents,
               CAST(min(o_orderkey) AS BIGINT) AS min_key,
               CAST(max(o_orderkey) AS BIGINT) AS max_key,
               CAST(min(CAST(o_orderdate AS DATE)) AS VARCHAR) AS min_date,
               CAST(max(CAST(o_orderdate AS DATE)) AS VARCHAR) AS max_date
        FROM orders
        GROUP BY o_orderpriority
    """,
)
def orders_orc_roundtrip_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's second built-in columnar format, attested the same way the
    parquet sink rows are: write the whole table (snappy ORC, hive-
    partitioned on the digest key so read-back also exercises partition
    discovery + partition pruning potential), read it back cold, and
    prove value equality against the ORIGINAL via an exact digest —
    integer-cent money (order-free sum), integer key extents, calendar
    date extents (timezone-free under the hostile non-UTC session
    because the timestamp column roundtrips as wall-clock and the digest
    casts to DATE on both engines). At scale this is the
    format-migration audit you run before switching a 100 TB table's
    storage format."""
    from data_algorithms_with_pyspark_spark.scratch import scratch_dir

    orders = load_table(spark, sf_dir, "orders")
    path = scratch_dir("orc", sf_dir)
    orders.write.mode("overwrite").partitionBy("o_orderpriority").orc(path)
    back = spark.read.orc(path)
    return back.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
        ).alias("total_cents"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
        F.date_format(F.min(F.to_date("o_orderdate")), "yyyy-MM-dd").alias(
            "min_date"
        ),
        F.date_format(F.max(F.to_date("o_orderdate")), "yyyy-MM-dd").alias(
            "max_date"
        ),
    )


@register(
    "orders_xml_roundtrip_digest",
    tags=("reference", "file-source", "sink", "format"),
    description="XML format lane (built into Spark 4 — SPARK-44265): orders "
    "written as XML rows and read back with an explicit schema, "
    "per-priority digest value-checked against the parquet original; "
    "money pre-quantized to integer cents and dates to ISO strings "
    "before the write so the text roundtrip is exact by construction",
    oracle="""
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                   AS BIGINT) AS total_cents,
               CAST(min(o_orderkey) AS BIGINT) AS min_key,
               CAST(max(o_orderkey) AS BIGINT) AS max_key,
               CAST(min(CAST(o_orderdate AS DATE)) AS VARCHAR) AS min_date,
               CAST(max(CAST(o_orderdate AS DATE)) AS VARCHAR) AS max_date
        FROM orders
        GROUP BY o_orderpriority
    """,
)
def orders_xml_roundtrip_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The text-format twin of ``orders_orc_roundtrip_digest``: XML is
    the interchange format enterprise feeds still arrive in, built into
    Spark 4 (no external package). Exactness discipline for a TEXT
    roundtrip: quantize money to integer cents and render dates as ISO
    strings BEFORE the write, so every value crossing the
    serialize/parse boundary is integer-or-string-exact (never a
    double-repr parse); read back with an EXPLICIT schema (inference is
    a planning convenience, not a contract). Digest identical to the
    ORC row's, oracled against the parquet original."""
    from data_algorithms_with_pyspark_spark.scratch import scratch_dir

    orders = load_table(spark, sf_dir, "orders")
    path = scratch_dir("xml", sf_dir)
    staged = orders.select(
        "o_orderpriority",
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
        F.date_format(F.to_date("o_orderdate"), "yyyy-MM-dd").alias("odate"),
    )
    staged.write.mode("overwrite").format("xml").option(
        "rootTag", "orders"
    ).option("rowTag", "order").save(path)
    back = (
        spark.read.format("xml")
        .option("rowTag", "order")
        .schema(
            "o_orderpriority string, o_orderkey long, cents long, "
            "odate string"
        )
        .load(path)
    )
    # min/max run on DATE (int buffer — stays on the HashAggregate fast
    # path; a string min/max buffer would demote the whole aggregate to
    # SortAggregate) and format back to ISO after the agg
    return back.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.sum("cents").alias("total_cents"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
        F.date_format(F.min(F.to_date("odate")), "yyyy-MM-dd").alias(
            "min_date"
        ),
        F.date_format(F.max(F.to_date("odate")), "yyyy-MM-dd").alias(
            "max_date"
        ),
    )
