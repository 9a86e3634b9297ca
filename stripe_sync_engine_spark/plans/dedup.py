"""Deduplication operators over ``documents`` — exact, n-gram Jaccard,
MinHash+LSH, and SimHash. These are first-class training-data-pipeline
components (the 100 TB use case), expressed scale-first:

* Exact dedup = one hash aggregation on a fingerprint (never on raw text).
* Near-dup candidate generation uses an **inverted index grouped by key**
  (groupBy shingle / LSH band bucket → map-side pair generation) — never an
  O(n²) cross join and never a self-join that computes the shingle pipeline
  twice. Each bucket's pair fan-out is generated from its collected doc
  list, so the expensive scan→shingle stage runs exactly once.
* Hot shingles (document frequency above ``SHINGLE_DF_MAX``) are dropped
  before candidate generation — without this, one boilerplate shingle
  shared by k documents creates a k²/2 pair blow-up, which is quadratic at
  web scale. The cut is part of the operator's declared semantics and is
  mirrored exactly in the SQL oracle.
* The same declared-semantics cut bounds LSH band buckets
  (``LSH_BUCKET_MAX``): a window count over the bucket key drops
  oversized buckets BEFORE any per-bucket doc list is collected, so no
  task ever holds an unbounded bucket array or emits its k²/2 pairs (the
  count streams over each bucket's sorted run — a giant bucket sorts and
  spills, never materializes). Near-identical boilerplate at web scale
  lands in exactly such buckets; a bucket past the bound carries no
  ranking signal anyway (its members are found via the remaining bands or
  the shingle index). Mirrored in every consuming oracle via
  ``HAVING COUNT(*) > {LSH_BUCKET_MAX}`` → NOT EXISTS.
* MinHash uses ONE md5 per shingle (a 32-bit integer draw) and derives the
  12 per-seed hashes with cheap universal-hash permutations
  ``(a·h + b) mod p`` — 12× less hashing than md5-per-seed, and identical
  integer math is expressible in the DuckDB oracle.
* All remaining hashing is md5-based (identical hex on Spark and DuckDB),
  so every stage has an exact SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from stripe_sync_engine_spark.operators.export import sql_h32
from stripe_sync_engine_spark.plans.registry import register
from stripe_sync_engine_spark.session import local_frame
from stripe_sync_engine_spark.tables import load_table, spread_small_scan

SHINGLE_W = 5  # words per shingle
SHINGLE_DF_MAX = 256  # drop shingles appearing in more docs (hot-shingle cut)
LSH_BUCKET_MAX = 256  # drop LSH band buckets larger than this (fan-out cap)
MINHASH_SEEDS = 12
LSH_BANDS = 4  # 4 bands × 3 rows
LSH_ROWS = MINHASH_SEEDS // LSH_BANDS
JACCARD_THRESHOLD = 0.5

# Universal-hash permutation constants for MinHash: mh_s = (A[s]·h + B[s]) mod P
# with h a 32-bit draw from md5(shingle). P is the Mersenne prime 2^31-1, so
# every product fits comfortably in int64 on both engines.
MH_PRIME = 2147483647
MH_A = [1000003, 1000033, 1000037, 1000039, 1000081, 1000099,
        1000117, 1000121, 1000133, 1000151, 1000159, 1000171]
MH_B = [12345, 54321, 192837, 918273, 13579, 97531,
        24680, 86420, 111111, 222222, 333333, 444444]


def shingles_of_words(words: Column, w: int = SHINGLE_W) -> Column:
    """Distinct word w-shingles from a MATERIALIZED words-array column.

    ``words`` must be a real column (an attribute), not the ``split(...)``
    expression: higher-order-function lambdas evaluate interpreted (no
    whole-stage codegen, no common-subexpression elimination), so an
    inlined split would re-tokenize the document for every element access —
    O(words²) per doc. Against a bound array attribute each ``element_at``
    is O(1)."""
    n = F.size(words)
    idx = F.sequence(F.lit(0), n - w)
    mk = F.transform(idx, lambda i: F.concat_ws(" ", *[F.element_at(words, (i + j + 1).cast("int")) for j in range(w)]))
    return F.when(n >= w, F.array_distinct(mk)).otherwise(F.array().cast("array<string>"))


SQL_SHINGLES = f"""
    CASE WHEN len(string_split(text, ' ')) >= {SHINGLE_W}
         THEN list_distinct(list_transform(
                  generate_series(1, len(string_split(text, ' ')) - {SHINGLE_W - 1}),
                  i -> array_to_string(string_split(text, ' ')[i:i+{SHINGLE_W - 1}], ' ')))
         ELSE [] END
"""

# 32-bit integer draw from the first 8 hex chars of md5(shingle), as DuckDB
# SQL (no hex→int builtin shared with Spark, so sum the nibbles explicitly).
# md5-hex → int64 bridge bound to the shingle column — the shared copy
# in operators/export (one place to change the prefix width or alphabet)
SQL_H32 = sql_h32("shingle")


def _doc_shingle_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, sh_arr): the shingle array materialized as a REAL column in
    its own projection. This matters: referencing the shingle expression from
    several downstream expressions (or from a projection above an explode)
    makes Catalyst re-inline the whole array construction at every use site
    — per exploded row, per minhash seed. A dedicated projection below the
    Generate/consumer computes it exactly once per document (CollapseProject
    keeps a projection whose alias is referenced by multiple non-cheap
    consumers)."""
    docs = spread_small_scan(load_table(spark, sf_dir, "documents"))
    words = docs.select("doc_id", F.split(F.col("text"), " ").alias("words"))
    return words.select("doc_id", shingles_of_words(F.col("words")).alias("sh_arr"))


def _doc_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_sh, shingle): per-doc distinct-shingle size is an O(1)
    ``size()`` on the materialized array, so downstream consumers never
    need a per-doc re-aggregation join."""
    base = _doc_shingle_arrays(spark, sf_dir)
    return base.select(
        "doc_id",
        F.size("sh_arr").cast("long").alias("n_sh"),
        F.explode("sh_arr").alias("shingle"),
    )


def _pairs_from_sorted(arr: Column, mk_pair) -> Column:
    """All ordered pairs (i < j) from a sorted array, generated map-side
    (nested transform + flatten — no join). ``mk_pair(a, b)`` builds the
    output struct. Callers must guarantee ``size(arr) >= 2`` (a filter),
    since ``sequence(1, 0)`` would count downward."""
    n = F.size(arr)
    return F.flatten(
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.transform(
                F.slice(arr, i + 1, n - i),
                lambda y: mk_pair(F.element_at(arr, i), y),
            ),
        )
    )


@register(
    "dd_exact",
    oracle="""
        SELECT md5(text) AS fp, MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies
        FROM documents
        GROUP BY md5(text)
    """,
    operators="TDP-dedup-exact,A1",
)
def dd_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on the content fingerprint, keeping the
    smallest doc_id per group. Aggregating the 16-byte fp (not the text)
    keeps shuffle rows tiny at scale."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.md5(F.col("text")).alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


@register(
    "dd_ngram_jaccard",
    oracle=f"""
        WITH ds AS (
            SELECT doc_id, unnest({SQL_SHINGLES}) AS shingle FROM documents
        ),
        hot AS (
            SELECT shingle FROM ds GROUP BY shingle HAVING COUNT(*) > {SHINGLE_DF_MAX}
        ),
        kept AS (
            SELECT doc_id, shingle FROM ds WHERE shingle NOT IN (SELECT shingle FROM hot)
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM ds GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
            FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        )
        SELECT i.doc_a, i.doc_b,
               CAST(n_common AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) AS jaccard
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.doc_a
        JOIN sizes sb ON sb.doc_id = i.doc_b
        WHERE CAST(n_common AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) >= {JACCARD_THRESHOLD}
    """,
    operators="TDP-dedup-jaccard",
)
def dd_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram Jaccard near-dup via a grouped inverted index:

    1. Explode shingles ONCE.
    2. Drop hot shingles (df > SHINGLE_DF_MAX) with a window count over
       the shingle key — the filter happens in the same shuffle the
       grouping below reuses (one exchange total; an earlier two-pass form
       counted hot shingles separately and broadcast-anti-joined them,
       paying a persist plus a second scan). This bounds every bucket
       below, so the collect_list in step 3 cannot blow up on a
       boilerplate shingle, and total pair work is ≤ df_max²/2 per
       shingle; the window count itself streams over each shingle's
       sorted run and never materializes an array.
    3. groupBy(shingle) → sorted doc list → map-side pair explosion
       (`_pairs_from_sorted`); ONE shuffle builds all candidate pairs,
       versus a self-join's two shuffles over twice-computed input.
    4. Pair aggregation: |A∩B| from pair counts; |A| and |B| ride along on
       the exploded rows (computed map-side from the array), so no per-doc
       size joins.

    Declared semantics (mirrored in the oracle): intersections count only
    non-hot shingles; set sizes use the full shingle sets.
    """
    from pyspark.sql import Window

    ds = _doc_shingles(spark, sf_dir)
    w = Window.partitionBy("shingle")
    kept = (
        ds.withColumn("_df", F.count(F.lit(1)).over(w))
        .where(F.col("_df") <= SHINGLE_DF_MAX)
        .drop("_df")
    )
    grp = (
        kept.groupBy("shingle")
        .agg(F.array_sort(F.collect_list(F.struct("doc_id", "n_sh"))).alias("docs"))
        .where(F.size("docs") >= 2)
    )
    pairs = _pairs_from_sorted(F.col("docs"), lambda a, b: F.struct(a.alias("a"), b.alias("b")))
    ex = grp.select(F.explode(pairs).alias("pr")).select(
        F.col("pr.a.doc_id").alias("doc_a"),
        F.col("pr.a.n_sh").alias("n_a"),
        F.col("pr.b.doc_id").alias("doc_b"),
        F.col("pr.b.n_sh").alias("n_b"),
    )
    inter = ex.groupBy("doc_a", "doc_b").agg(
        F.count(F.lit(1)).alias("n_common"),
        F.first("n_a").alias("n_a"),
        F.first("n_b").alias("n_b"),
    )
    jac = F.col("n_common").cast("double") / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double")
    return inter.select("doc_a", "doc_b", jac.alias("jaccard")).where(F.col("jaccard") >= JACCARD_THRESHOLD)


def minhash_sigs_for(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, m0..m11) MinHash signatures of ANY (id, text) DataFrame —
    the DF-generic core shared by the corpus-wide plans below and the
    incremental gate (``operators/incremental_dedup.IncrementalNearDeduper``).

    One md5 per shingle: h = int64 of the first 8 hex chars of
    md5(shingle), then the per-seed MinHash is ``min((a_s·h + b_s) mod p)``
    — a textbook universal-hash MinHash. Physical shape: explode shingles
    → whole-stage-codegen'd h32 → ONE hash aggregation computing all 12
    seed minima as parallel ``min`` columns. Every stage is codegen (an
    earlier all-higher-order-function version was shuffle-free but 10×
    slower: HOF lambdas evaluate interpreted). The aggregation is
    map-side combinable and — since each document's shingles come from a
    single input row — partial aggregation collapses them BEFORE the
    exchange, so the shuffle carries one 13-column row per document
    regardless of corpus size. Docs with fewer than SHINGLE_W words have
    no shingles and are absent from the output."""
    words = docs.select(F.col(id_col).alias("doc_id"), F.split(F.col(text_col), " ").alias("words"))
    base = words.select("doc_id", shingles_of_words(F.col("words")).alias("sh_arr"))
    ex = base.select("doc_id", F.explode("sh_arr").alias("shingle"))
    h = ex.select("doc_id", F.conv(F.md5("shingle").substr(1, 8), 16, 10).cast("long").alias("h32"))
    return h.groupBy("doc_id").agg(
        *[
            F.min((F.lit(MH_A[s]) * (F.col("h32") % MH_PRIME) + F.lit(MH_B[s])) % MH_PRIME).alias(f"m{s}")
            for s in range(MINHASH_SEEDS)
        ]
    )


def band_rows_of_sigs(sigs: DataFrame) -> DataFrame:
    """(doc_id, band, band_key, m0..m11) LSH band rows from a signature
    DataFrame: band_key = md5 of the band's row-concatenated sig values.
    The sig columns ride along so consumers (the incremental near-dup
    index) can estimate Jaccard from component agreement without a second
    pass."""
    bands = F.array(
        *[
            F.md5(F.concat_ws("|", *[F.col(f"m{b * LSH_ROWS + r}").cast("string") for r in range(LSH_ROWS)]))
            for b in range(LSH_BANDS)
        ]
    )
    sig_cols = [f"m{s}" for s in range(MINHASH_SEEDS)]
    return sigs.select("doc_id", F.posexplode(bands).alias("band", "band_key"), *sig_cols).select(
        "doc_id", F.col("band").cast("int").alias("band"), "band_key", *sig_cols
    )


def _minhash_band_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc LSH band keys of the documents table (see
    ``minhash_sigs_for`` for the physical-shape notes; the corpus plans
    only need the keys, so the sig columns are dropped here)."""
    docs = spread_small_scan(load_table(spark, sf_dir, "documents"))
    return band_rows_of_sigs(minhash_sigs_for(docs)).select("doc_id", "band", "band_key")


SQL_SEEDS = ", ".join(f"({s}, {MH_A[s]}, {MH_B[s]})" for s in range(MINHASH_SEEDS))

SQL_MINHASH_SIGS = f"""
        SELECT doc_id, seed, MIN((a * (h32 % {MH_PRIME}) + b) % {MH_PRIME}) AS mh
        FROM (
            SELECT doc_id, {SQL_H32} AS h32
            FROM (SELECT doc_id, unnest({SQL_SHINGLES}) AS shingle FROM documents) raw
        ) h
        CROSS JOIN (SELECT * FROM (VALUES {SQL_SEEDS}) v(seed, a, b)) seeds
        GROUP BY doc_id, seed
"""

SQL_MINHASH_BANDS = f"""
        SELECT doc_id, CAST(seed // {LSH_ROWS} AS INTEGER) AS band,
               md5(string_agg(CAST(mh AS VARCHAR), '|' ORDER BY seed)) AS band_key
        FROM sigs
        GROUP BY doc_id, seed // {LSH_ROWS}
"""


# Shared oracle CTE block: minhash sigs → band keys → bucket-size cap →
# candidate pairs. Inlined by every pairs consumer (dd_minhash_lsh_pairs,
# dd_cluster_components, dd_keeplist_pipeline) so the declared LSH_BUCKET_MAX
# semantics are identical across the family.
SQL_LSH_PAIRS_CTES = f"""sigs AS ({SQL_MINHASH_SIGS}),
        bands AS ({SQL_MINHASH_BANDS}),
        hot_buckets AS (
            SELECT band, band_key FROM bands
            GROUP BY band, band_key HAVING COUNT(*) > {LSH_BUCKET_MAX}
        ),
        kept_bands AS (
            SELECT * FROM bands b
            WHERE NOT EXISTS (SELECT 1 FROM hot_buckets h
                              WHERE h.band = b.band AND h.band_key = b.band_key)
        ),
        pairs AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM kept_bands a JOIN kept_bands b
              ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
        )"""


@register(
    "dd_minhash_lsh_pairs",
    oracle=f"""
        WITH {SQL_LSH_PAIRS_CTES}
        SELECT doc_a, doc_b FROM pairs
    """,
    operators="TDP-dedup-minhash,TDP-dedup-minhash-lsh",
)
def dd_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate pairs: docs sharing any band bucket. Instead of a
    self-join (which would compute the whole minhash pipeline twice and
    shuffle it twice), groupBy the bucket key, collect the sorted doc list,
    and explode pairs map-side — the signature stage runs once and the only
    shuffles are the bucket groupBy and the final distinct.

    Subsumes the former ``dd_minhash_bands`` registry entry (its band-key
    output, ``_minhash_band_rows``, is this operator's only input and its
    oracle is this oracle's ``bands`` CTE verbatim — superset, not a cut;
    the bands stage keeps its own value-level parity test in
    ``tests/test_operators.py``)."""
    return _lsh_candidate_pairs(spark, sf_dir)


def _lsh_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a < doc_b) distinct LSH candidate pairs — see dd_minhash_lsh_pairs.

    Bucket-size cap (``_kept_bands``): oversized buckets are filtered out
    BEFORE the per-bucket doc lists are collected — the cap guards the
    collect_list itself, not just the pair explosion, so one
    boilerplate-heavy bucket can never pin a straggler task at 100 TB."""
    kept = _kept_bands(spark, sf_dir)
    grp = (
        kept.groupBy("band", "band_key")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
        .where(F.size("ids") >= 2)
    )
    pairs = _pairs_from_sorted(F.col("ids"), lambda a, b: F.struct(a.alias("doc_a"), b.alias("doc_b")))
    return (
        grp.select(F.explode(pairs).alias("pr"))
        .select(F.col("pr.doc_a").alias("doc_a"), F.col("pr.doc_b").alias("doc_b"))
        .distinct()
    )


def _kept_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band rows with the declared ``LSH_BUCKET_MAX`` cut applied — THE
    single implementation of the cap every LSH consumer shares (its SQL
    mirror is the hot_buckets/kept_bands CTE pair in
    ``SQL_LSH_PAIRS_CTES``).

    Physical shape: a window count over the bucket key, filtered before
    anything collects — ONE shuffle, no persist, and the minhash pipeline
    runs exactly once (an earlier two-pass form — count hot buckets, then
    broadcast-anti-join them away — paid a second pipeline scan plus a
    cache; the window count streams over each bucket's sorted run, so a
    giant bucket sorts and spills but never materializes an array, and the
    groupBy that follows reuses the same partitioning with no second
    exchange)."""
    from pyspark.sql import Window

    bands = _minhash_band_rows(spark, sf_dir)
    w = Window.partitionBy("band", "band_key")
    return (
        bands.withColumn("_sz", F.count(F.lit(1)).over(w))
        .where(F.col("_sz") <= LSH_BUCKET_MAX)
        .drop("_sz")
    )


SIMHASH_BITS = 16


@register(
    "dd_simhash",
    oracle=f"""
        WITH tok AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
        ),
        bits AS (
            SELECT doc_id, p,
                   SUM(CASE WHEN strpos('0123456789abcdef', substr(md5(token), p + 1, 1)) - 1 >= 8
                            THEN 1 ELSE -1 END) AS s
            FROM tok
            CROSS JOIN (SELECT unnest(generate_series(0, {SIMHASH_BITS - 1})) AS p) ps
            GROUP BY doc_id, p
        )
        SELECT doc_id,
               CAST(SUM(CASE WHEN s > 0 THEN CAST(pow(2, p) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
        FROM bits GROUP BY doc_id
    """,
    operators="TDP-dedup-simhash",
)
def dd_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprint: per-token md5 nibbles vote ±1 on each of 16 bit
    positions; the sign vector packs into an integer fingerprint.

    Computed ENTIRELY map-side as one expression per document: fold the
    token array into a 16-slot vote accumulator (``aggregate`` +
    ``zip_with``), then pack the sign bits. Zero shuffles, zero row
    blow-up — the previous formulation exploded tokens and cross-joined 16
    bit positions (a 16× row multiplier feeding two shuffled aggregations).
    """
    docs = spread_small_scan(load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull()))
    bit_seq = F.sequence(F.lit(0), F.lit(SIMHASH_BITS - 1))
    hs = F.transform(F.split(F.col("text"), " "), lambda t: F.md5(t))

    def votes(h: Column) -> Column:
        return F.transform(
            bit_seq,
            lambda p: F.when(F.conv(h.substr(p + F.lit(1), F.lit(1)), 16, 10).cast("int") >= 8, F.lit(1))
            .otherwise(F.lit(-1))
            .cast("long"),
        )

    s_arr = F.aggregate(
        hs,
        F.array_repeat(F.lit(0).cast("long"), SIMHASH_BITS),
        lambda acc, h: F.zip_with(acc, votes(h), lambda a, v: a + v),
    )
    packed = F.aggregate(
        F.zip_with(
            s_arr,
            bit_seq,
            lambda s, p: F.when(s > 0, F.pow(F.lit(2.0), p).cast("long")).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    return docs.select("doc_id", packed.alias("simhash"))


@register(
    "dd_cluster_components",
    oracle=f"""
        WITH RECURSIVE {SQL_LSH_PAIRS_CTES},
        edges AS (
            SELECT doc_a AS u, doc_b AS v FROM pairs
            UNION
            SELECT doc_b AS u, doc_a AS v FROM pairs
        ),
        reach AS (
            SELECT u, v FROM edges
            UNION
            SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
        )
        SELECT u AS doc_id, CAST(LEAST(u, MIN(v)) AS BIGINT) AS cluster_id
        FROM reach GROUP BY u
    """,
    operators="TDP-dedup-cluster,iterative",
)
def dd_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERS from the LSH candidate pairs: connected
    components labeled by the component's minimum doc_id — the step that
    turns pairwise matches into keep/drop groups in a real dedup pipeline
    (keep cluster_id, drop the rest). Docs with no near-dup pair are
    singletons and excluded by construction.

    This is the engine's iterative-algorithm shape: the driver controls a
    distributed large-star/small-star alternation (``alternating_components``
    — O(log n) rounds, vs O(diameter) for naive min-label sweeps), each
    round a pair of join+agg jobs with ``localCheckpoint`` truncating the
    lineage. The input graph is the connectivity-equivalent EDGE REDUCTION
    of the capped LSH pairs (``_lsh_component_edges``: bucket stars, not
    bucket cliques), so the solver starts near its fixpoint. The oracle
    (a transitive-closure recursive CTE over the full capped pair set) is
    label-order and edge-representation independent, so both choices are
    oracle-invisible.
    """
    labels, _rounds = alternating_components(_lsh_component_edges(spark, sf_dir), normalized=True)
    return labels.select(F.col("node").alias("doc_id"), F.col("label").cast("long").alias("cluster_id"))


def _lsh_component_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connectivity-equivalent edge reduction of the capped LSH candidate
    pairs: within a band bucket every member connects to the bucket MIN —
    n-1 star edges per bucket instead of the clique's n(n-1)/2 pairs, with
    the identical transitive closure (a clique and its spanning star have
    the same components). No per-bucket array is ever collected (the pair
    query needs the arrays; connectivity doesn't), the edge count is linear
    in corpus size, and the output is already star-shaped and (u > v)
    directed — alternating_components converges in 1-2 rounds on it.

    ONE window pass computes both the ``LSH_BUCKET_MAX`` cut and the bucket
    min (two unbounded-frame functions over the same bucket partition share
    a single sort): the minhash pipeline runs exactly once. An earlier form
    derived the mins by re-grouping the capped rows and joining back — the
    un-cached band pipeline executed twice, doubling the dominant cost.
    Since the cap drops WHOLE buckets (never individual members), the min
    over a surviving bucket equals the min over its capped rows, so the
    closure stays equal to the oracle's capped pair set."""
    from pyspark.sql import Window

    bands = _minhash_band_rows(spark, sf_dir)
    w = Window.partitionBy("band", "band_key")
    return (
        bands.select(
            "doc_id",
            F.count(F.lit(1)).over(w).alias("_sz"),
            F.min("doc_id").over(w).alias("m"),
        )
        .where((F.col("_sz") <= LSH_BUCKET_MAX) & (F.col("doc_id") != F.col("m")))
        .select(F.col("doc_id").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """One large-star round (Kiveris et al., "Connected Components in
    MapReduce and Beyond"): every node u connects each STRICTLY LARGER
    neighbor to the minimum m of its closed neighborhood — emit (v, m) for
    v ∈ Γ(u), v > u. Neighborhoods are computed on the symmetrized edge
    set; both directions explode from one pass (a union of two selects
    would execute the upstream pipeline twice). Output edges all point
    larger → smaller."""
    sym = edges.select(
        F.explode(
            F.array(
                F.struct(F.col("u").alias("u"), F.col("v").alias("v")),
                F.struct(F.col("v").alias("u"), F.col("u").alias("v")),
            )
        ).alias("e")
    ).select("e.u", "e.v")
    m = sym.groupBy("u").agg(F.min("v").alias("mn")).select(
        "u", F.least(F.col("u"), F.col("mn")).alias("m")
    )
    return (
        sym.join(m, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """One small-star round on a (u > v)-directed edge set: every node u
    connects its smaller neighbors — and itself — to their minimum m:
    emit (v, m) for v ∈ Γ⁻(u) ∪ {u}, self-loops dropped."""
    m = edges.groupBy("u").agg(F.min("v").alias("m"))
    nbrs = edges.join(m, "u").select(F.col("v").alias("u"), F.col("m").alias("v"))
    selfe = m.select("u", F.col("m").alias("v"))
    return nbrs.unionByName(selfe).where(F.col("u") != F.col("v")).distinct()


# Edge sets at or below this size are solved on the driver (union-find)
# instead of spinning up distributed alternation rounds — the same
# size-based strategy switch Spark itself makes when it elects a broadcast
# join for a bounded build side. 100k edges ≈ a few MB collected; far
# below any driver-memory concern, far above anything the per-round
# shuffle machinery could beat.
DRIVER_CC_MAX_EDGES = 100_000


def alternating_components(
    edges: DataFrame,
    max_rounds: int = 50,
    local_threshold: int = DRIVER_CC_MAX_EDGES,
    normalized: bool = False,
) -> tuple[DataFrame, int]:
    """Connected components of an undirected edge set (columns ``u``/``v``),
    labeled by each component's minimum node id.

    Physical strategy, chosen by a bounded size probe —
    ``limit(threshold + 1).collect()``, which is ONE job that short-circuits
    on large graphs (per-partition partial limits) and, on small ones,
    already returns every edge, so the whole driver-local decision costs a
    single pass over the pipeline with no checkpoint and no separate count:

    * probe exhausted (``<= local_threshold`` edges): union-find on the
      driver — exact same semantics, none of the per-round shuffle latency
      that dominates on small graphs.
    * probe truncated: large-star/small-star alternation (Kiveris et al.,
      "Connected Components in MapReduce and Beyond") — O(log n)
      distributed rounds to a star forest whose centers are the component
      minima, versus O(diameter) for per-hop min-label propagation (a
      64-node chain: 7 rounds vs 63 sweeps). Each round is two join+agg
      jobs; ``localCheckpoint`` keeps plan depth O(1) per round;
      convergence is a one-action symmetric-difference fixpoint test.

    ``normalized=True`` declares the input already (u > v)-directed,
    self-loop-free, and distinct (true for ``_lsh_component_edges``'s
    star edges), skipping the greatest/least + distinct normalization
    exchange.

    Returns ``(labels, rounds)``; ``rounds == 0`` means the driver-local
    path ran."""
    if normalized:
        cur = edges
    else:
        cur = (
            edges.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
    probe = cur.limit(local_threshold + 1).collect()
    if len(probe) <= local_threshold:
        parent: dict = {}

        def find(x):
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for r in probe:
            ra, rb = find(r["u"]), find(r["v"])
            if ra != rb:
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo  # union by min → every root IS its set's min
        nodes = {r["u"] for r in probe} | {r["v"] for r in probe}
        spark = edges.sparkSession
        out_schema = StructType(
            [
                StructField("node", cur.schema["u"].dataType, False),
                StructField("label", cur.schema["v"].dataType, False),
            ]
        )
        return local_frame(spark, [(n, find(n)) for n in sorted(nodes)], out_schema), 0
    # distributed path: now pin the (re-executed) edge set for iteration
    cur = cur.localCheckpoint()
    rounds = 0
    for _ in range(max_rounds):
        rounds += 1
        new = _small_star(_large_star(cur)).localCheckpoint()
        # Exact fixpoint test in ONE action: both sets are distinct, so the
        # symmetric difference is empty iff they are equal.
        changed = (
            new.exceptAll(cur).unionByName(cur.exceptAll(new)).limit(1).count()
        )
        cur = new
        if changed == 0:
            break
    labels = (
        cur.select(F.col("u").alias("node"), F.col("v").alias("label"))
        .unionByName(cur.select(F.col("v").alias("node"), F.col("v").alias("label")))
        .groupBy("node")
        .agg(F.min("label").alias("label"))
    )
    return labels, rounds


KEEPLIST_MIN_TOKENS = 50


@register(
    "dd_keeplist_pipeline",
    oracle=f"""
        WITH RECURSIVE {SQL_LSH_PAIRS_CTES},
        edges AS (
            SELECT doc_a AS u, doc_b AS v FROM pairs
            UNION
            SELECT doc_b AS u, doc_a AS v FROM pairs
        ),
        reach AS (
            SELECT u, v FROM edges
            UNION
            SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
        ),
        clusters AS (
            SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_id FROM reach GROUP BY u
        ),
        exact_keep AS (
            SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)
        )
        SELECT d.doc_id, len(string_split(d.text, ' ')) AS n_tokens
        FROM documents d
        JOIN exact_keep k ON k.doc_id = d.doc_id
        LEFT JOIN clusters c ON c.doc_id = d.doc_id
        WHERE (c.doc_id IS NULL OR c.cluster_id = d.doc_id)
          AND len(string_split(d.text, ' ')) >= {KEEPLIST_MIN_TOKENS}
    """,
    operators="TDP-dedup-pipeline,J2,J3",
)
def dd_keeplist_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation capstone: one declarative plan composing the dedup
    family into the keep-list a training-data pipeline actually ships —

    1. exact dedup (keep min doc_id per content md5, left-semi),
    2. near-dup clusters (dd_cluster_components): keep only each cluster's
       representative (cluster_id == doc_id), drop the rest (left-anti),
    3. quality cut: at least {KEEPLIST_MIN_TOKENS} whitespace tokens.

    Every stage is an operator already oracle-gated on its own; this entry
    gates their COMPOSITION (semi/anti join plumbing, no accidental row
    duplication or filter reordering across stages)."""
    docs = load_table(spark, sf_dir, "documents")
    exact_keep = (
        docs.groupBy(F.md5(F.col("text")).alias("fp"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    cluster_drops = (
        dd_cluster_components(spark, sf_dir)
        .where(F.col("cluster_id") != F.col("doc_id"))
        .select("doc_id")
    )
    n_tokens = F.size(F.split(F.col("text"), " ")).cast("long")
    return (
        docs.join(exact_keep, "doc_id", "left_semi")
        .join(F.broadcast(cluster_drops), "doc_id", "left_anti")
        .where(n_tokens >= KEEPLIST_MIN_TOKENS)
        .select("doc_id", n_tokens.alias("n_tokens"))
    )


SPAN_K = 3  # token-window length for the span-dedup driver row
SPAN_MIN_REPEATS = 2


@register(
    "dd_span_dedup",
    oracle=f"""
        WITH t AS (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), x -> x <> '') AS toks
            FROM documents
        ),
        g AS (
            SELECT doc_id, i - 1 AS pos,
                   array_to_string(toks[i:i+{SPAN_K - 1}], ' ') AS gram
            FROM t, LATERAL UNNEST(generate_series(1, len(toks) - {SPAN_K - 1})) AS u(i)
            WHERE len(toks) >= {SPAN_K}
        ),
        d AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(*) >= {SPAN_MIN_REPEATS}),
        m AS (SELECT doc_id, pos FROM g WHERE gram IN (SELECT gram FROM d)),
        f AS (
            SELECT doc_id, pos,
                   CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                             <= {SPAN_K} THEN 0 ELSE 1 END AS brk
            FROM m
        ),
        s AS (
            SELECT doc_id, pos,
                   SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                                  ROWS UNBOUNDED PRECEDING) AS grp
            FROM f
        )
        SELECT doc_id,
               CAST(MIN(pos) AS BIGINT) AS span_start,
               CAST(MAX(pos) + {SPAN_K} AS BIGINT) AS span_end
        FROM s GROUP BY doc_id, grp
    """,
    operators="TDP-dedup-span",
)
def dd_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level (substring) dedup — ExactSubstr (Lee et al. 2022) as
    distributed k-gram hashing: every {SPAN_K}-token window that occurs
    {SPAN_MIN_REPEATS}+ times corpus-wide marks its positions, merged to
    maximal per-doc [start, end) intervals (operators/span_dedup —
    docstring there has the 100 TB plan shape: O(total tokens) gram rows,
    map-side-combined repeat count bounded by DISTINCT grams, one
    doc-keyed exchange for the interval merge). The Spark side groups on
    xxhash64(gram); the oracle groups on gram TEXT — only a 2^-64 hash
    collision can diverge."""
    from stripe_sync_engine_spark.operators.span_dedup import repeated_spans

    docs = spread_small_scan(load_table(spark, sf_dir, "documents"))
    return repeated_spans(docs, k=SPAN_K, min_repeats=SPAN_MIN_REPEATS)
