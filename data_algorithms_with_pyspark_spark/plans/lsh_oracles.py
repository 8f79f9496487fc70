"""DuckDB oracle SQL builders for the md5-based MinHash/SimHash family.

The Spark operators (operators/dedup.py) hash via ``md5_long60`` =
``conv(substring(md5(x), 1, 15), 16, 10)`` — a construction any engine
reproduces bit-for-bit. These builders emit DuckDB SQL replaying the
IDENTICAL pipeline: tokenization, shingling, base hash, the seeded
permutation constants (shared Python literals via ``_minhash_params`` —
same single-source-of-truth pattern as the SRP hyperplanes in
plans/extensions.py), banding (including band-hash collisions), candidate
join, and the floor-based estimate rounding. That upgrades the whole
near-dup family from rows-only driver checks to full value oracles.

All builders parameterize the corpus-side filter so the incremental
(increment x history) variant shares the signature CTEs with the
symmetric self-join variant.
"""

from __future__ import annotations

from data_algorithms_with_pyspark_spark.operators.dedup import (
    _MERSENNE_PRIME_31,
    _minhash_params,
)

__all__ = [
    "minhash_pairs_sql",
    "incremental_minhash_sql",
    "near_dup_clusters_sql",
    "simhash_pairs_sql",
]

# Single source of truth with plans/extensions.py / plans/pipelines.py.
_TOKENS = (
    "list_filter(string_split_regex(trim(lower(text)), '\\s+'), w -> len(w) > 0)"
)

_P = _MERSENNE_PRIME_31


def _md5_long60(expr: str) -> str:
    """DuckDB twin of operators/dedup.md5_long60 (15 hex digits = 60 bits)."""
    return f"('0x' || substring(md5({expr}), 1, 15))::BIGINT"


def _shingle_case(shingle_n: int) -> str:
    """DuckDB twin of operators/dedup.token_shingles over alias ``t``."""
    return f"""CASE WHEN len(t) >= {shingle_n}
              THEN list_distinct(list_transform(
                       range(1, len(t) - {shingle_n} + 2),
                       i -> array_to_string(list_slice(t, i, i + {shingle_n} - 1), ' ')))
              ELSE [array_to_string(t, ' ')] END"""


def _sig_ctes(num_perm: int, shingle_n: int, seed: int) -> str:
    """CTE chain documents -> toks -> sh -> h -> sig (signature as LIST)."""
    params = _minhash_params(num_perm, seed)
    mins = ", ".join(f"min(({a} * hv + {b}) % {_P})" for a, b in params)
    return f"""toks AS (SELECT doc_id, {_TOKENS} AS t FROM documents),
        sh AS (SELECT doc_id, {_shingle_case(shingle_n)} AS shingles FROM toks),
        h AS (
            SELECT doc_id, {_md5_long60('s')} % {_P} AS hv
            FROM (SELECT doc_id, unnest(shingles) AS s FROM sh)
        ),
        sig AS (SELECT doc_id, [{mins}] AS sig FROM h GROUP BY doc_id)"""


def _bands_cte(num_perm: int, bands: int) -> str:
    """CTE bands: (doc_id, band, band_hash) — md5 of "band,v1,v2,..."."""
    rpb = num_perm // bands
    key = (
        "CAST(b.b AS VARCHAR) || ',' || "
        f"array_to_string(sig[b.b*{rpb}+1 : b.b*{rpb}+{rpb}], ',')"
    )
    return f"""bands AS (
            SELECT doc_id, b.b AS band, {_md5_long60(key)} AS band_hash
            FROM sig CROSS JOIN (SELECT unnest(range({bands})) AS b) b
        )"""


def _est_expr(num_perm: int) -> str:
    """Matching-component fraction, floor-rounded to 4 decimals (exact in
    binary: k/num_perm * 1e4 is exact for power-of-two num_perm)."""
    return (
        f"floor(CAST(len(list_filter(range(1, {num_perm + 1}), "
        f"i -> s1.sig[i] = s2.sig[i])) AS DOUBLE) / {num_perm}.0 "
        "* 10000 + 0.5) / 10000.0"
    )


def minhash_pairs_sql(
    min_jaccard: float,
    num_perm: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    seed: int = 42,
) -> str:
    """Oracle for minhash_candidate_pairs: (id_1, id_2, est_jaccard) with
    id_1 < id_2."""
    return f"""
        WITH {_sig_ctes(num_perm, shingle_n, seed)},
        {_bands_cte(num_perm, bands)},
        pairs AS (
            SELECT DISTINCT a.doc_id AS id_1, b.doc_id AS id_2
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.band_hash = b.band_hash
             AND a.doc_id < b.doc_id
        )
        SELECT * FROM (
            SELECT p.id_1, p.id_2, {_est_expr(num_perm)} AS est_jaccard
            FROM pairs p
            JOIN sig s1 ON p.id_1 = s1.doc_id
            JOIN sig s2 ON p.id_2 = s2.doc_id
        ) WHERE est_jaccard >= {min_jaccard}
    """


def incremental_minhash_sql(
    min_jaccard: float,
    modulus: int = 8,
    num_perm: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    seed: int = 42,
) -> str:
    """Oracle for the incremental variant: increment = doc_id % modulus == 0,
    history = the rest; pairs join across the split only."""
    return f"""
        WITH {_sig_ctes(num_perm, shingle_n, seed)},
        {_bands_cte(num_perm, bands)},
        pairs AS (
            SELECT DISTINCT n.doc_id AS id_new, h.doc_id AS id_hist
            FROM bands n JOIN bands h
              ON n.band = h.band AND n.band_hash = h.band_hash
            WHERE n.doc_id % {modulus} = 0 AND h.doc_id % {modulus} != 0
        )
        SELECT * FROM (
            SELECT p.id_new, p.id_hist, {_est_expr(num_perm)} AS est_jaccard
            FROM pairs p
            JOIN sig s1 ON p.id_new = s1.doc_id
            JOIN sig s2 ON p.id_hist = s2.doc_id
        ) WHERE est_jaccard >= {min_jaccard}
    """


def near_dup_clusters_sql(
    candidate_jaccard: float,
    verify_jaccard: float,
    num_perm: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    seed: int = 42,
) -> str:
    """Oracle for near_dup_clusters: LSH candidates -> exact-Jaccard verify
    -> connected components (min reachable doc_id, via recursive CTE to
    fixpoint — UNION dedups, so it terminates) -> (doc_id, cluster_id,
    cluster_size)."""
    return f"""
        WITH RECURSIVE {_sig_ctes(num_perm, shingle_n, seed)},
        {_bands_cte(num_perm, bands)},
        cand AS (
            SELECT * FROM (
                SELECT p.id_1, p.id_2, {_est_expr(num_perm)} AS est_jaccard
                FROM (
                    SELECT DISTINCT a.doc_id AS id_1, b.doc_id AS id_2
                    FROM bands a JOIN bands b
                      ON a.band = b.band AND a.band_hash = b.band_hash
                     AND a.doc_id < b.doc_id
                ) p
                JOIN sig s1 ON p.id_1 = s1.doc_id
                JOIN sig s2 ON p.id_2 = s2.doc_id
            ) WHERE est_jaccard >= {candidate_jaccard}
        ),
        ver AS (
            SELECT c.id_1, c.id_2
            FROM cand c
            JOIN sh a ON c.id_1 = a.doc_id
            JOIN sh b ON c.id_2 = b.doc_id
            WHERE floor(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                        / len(list_distinct(list_concat(a.shingles, b.shingles)))
                        * 10000 + 0.5) / 10000
                  >= {verify_jaccard}
        ),
        nodes AS (
            SELECT DISTINCT id FROM (
                SELECT id_1 AS id FROM ver UNION ALL SELECT id_2 FROM ver
            )
        ),
        edges AS (
            SELECT id_1 AS src, id_2 AS dst FROM ver
            UNION ALL
            SELECT id_2, id_1 FROM ver
        ),
        reach AS (
            SELECT id, id AS r FROM nodes
            UNION
            SELECT e.dst AS id, reach.r
            FROM edges e JOIN reach ON reach.id = e.src
        ),
        comp AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
        sizes AS (
            SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
            FROM comp GROUP BY cluster_id
        )
        SELECT c.doc_id, c.cluster_id, s.cluster_size
        FROM comp c JOIN sizes s USING (cluster_id)
    """


def simhash_pairs_sql(
    max_hamming: int,
    bands: int = 4,
    n_bits: int = 60,
    max_bucket: int | None = None,
    shingle_n: int | None = None,
) -> str:
    """Oracle for simhash + simhash_candidate_pairs(n_bits=60):
    (id_1, id_2, hamming) for banded candidates within ``max_hamming``.
    Docs with no tokens hash to 0 (the LEFT JOIN/coalesce mirrors Spark's
    fold over an empty token array). ``max_bucket`` replays the operator's
    degeneracy guard: band buckets holding more ids are excluded from
    candidate generation. ``shingle_n`` replays the shingle-feature
    variant (votes over distinct word n-grams; empty-token docs vote on
    nothing)."""
    bw = n_bits // bands
    mask = (1 << bw) - 1
    guard = (
        f""",
        bcnt AS (
            SELECT band, band_val FROM banded
            GROUP BY band, band_val HAVING count(*) <= {max_bucket}
        ),
        banded_ok AS (
            SELECT banded.* FROM banded JOIN bcnt USING (band, band_val)
        )"""
        if max_bucket is not None
        else ""
    )
    cand_src = "banded_ok" if max_bucket is not None else "banded"
    if shingle_n is None:
        th_cte = f"""th AS (
            SELECT doc_id, {_md5_long60('tok')} AS h
            FROM (SELECT doc_id, unnest(t) AS tok FROM toks)
        )"""
    else:
        th_cte = f"""sh AS (
            SELECT doc_id, {_shingle_case(shingle_n)} AS shingles
            FROM toks WHERE len(t) > 0
        ),
        th AS (
            SELECT doc_id, {_md5_long60('s')} AS h
            FROM (SELECT doc_id, unnest(shingles) AS s FROM sh)
        )"""
    return f"""
        WITH toks AS (SELECT doc_id, {_TOKENS} AS t FROM documents),
        {th_cte},
        votes AS (
            SELECT doc_id, b.b AS bit, sum(((h >> b.b) & 1) * 2 - 1) AS v
            FROM th CROSS JOIN (SELECT unnest(range({n_bits})) AS b) b
            GROUP BY doc_id, b.b
        ),
        sim0 AS (
            SELECT doc_id,
                   CAST(sum(CASE WHEN v > 0 THEN (1::BIGINT << bit) ELSE 0 END)
                        AS BIGINT) AS simhash
            FROM votes GROUP BY doc_id
        ),
        sim AS (
            SELECT d.doc_id, coalesce(s.simhash, 0) AS simhash
            FROM documents d LEFT JOIN sim0 s USING (doc_id)
        ),
        banded AS (
            SELECT doc_id, simhash, b.b AS band,
                   (simhash >> (b.b * {bw})) & {mask} AS band_val
            FROM sim CROSS JOIN (SELECT unnest(range({bands})) AS b) b
        ){guard}
        SELECT * FROM (
            SELECT DISTINCT a.doc_id AS id_1, b.doc_id AS id_2,
                   CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
            FROM {cand_src} a JOIN {cand_src} b
              ON a.band = b.band AND a.band_val = b.band_val
             AND a.doc_id < b.doc_id
        ) WHERE hamming <= {max_hamming}
    """
