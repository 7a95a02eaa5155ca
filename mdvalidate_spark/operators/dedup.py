"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

Scale design notes (these are the operators whose naive forms die first at
100 TB):

- Nothing here compares all pairs. Every near-dup operator is
  *bucket-then-verify*: a hash/banding stage assigns each document to a small
  number of candidate buckets (one shuffle on the bucket key), pairs are
  generated only within buckets (self-join on the bucket key — AQE skew-split
  handles hot buckets), and an exact verify pass filters false positives.
- All signature math is built-in column algebra (xxhash64 / transform /
  aggregate) — JVM codegen, no Python, no UDF. The per-document signature
  stage is embarrassingly parallel (no shuffle).
- Pair output is canonicalized (id_a < id_b) and deduped across buckets.

Reference lineage: uniqueness is the `{1,1}`-per-key repetition degenerate
case (reference: walkers/validators/lists.rs:168-264); everything else here is
new capability mandated by the training-data-pipeline brief.
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import normalize_text, shingles, tokens

# ----------------------------------------------------------------- exact


def exact_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sample_size: int = 16,
) -> DataFrame:
    """Exact near-identity dedup: group by md5(normalized text); emit one row
    per duplicate group with (representative = min id, group_size, and the
    first ``sample_size`` member ids in sorted order). One shuffle on a
    uniform hash key — no skew by construction.

    Output is BOUNDED per group: a collect_list of ALL member ids would put
    a mega-group's entire id set into one aggregation buffer/output row —
    at corpus scale a boilerplate document can have 10^8 copies. The sample
    is taken with a row_number window over (fp, id) — sort-based, spills —
    and the groupBy reuses the window's fp partitioning, so no extra
    shuffle. The keep-one / drop-rest decision needs only the
    representative; the sample is for human triage."""
    from .text import fingerprint_md5

    from pyspark.sql import Window

    fp_docs = df.select(
        F.col(id_col).alias("doc_id"), fingerprint_md5(F.col(text_col)).alias("fp")
    )
    w = Window.partitionBy("fp").orderBy("doc_id")
    return (
        fp_docs.withColumn("_rn", F.row_number().over(w))
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("group_size"),
            F.min("doc_id").alias("representative"),
            # collect_list drops NULLs → only the first sample_size ids
            # (in sorted order) ever enter the aggregation buffer
            F.sort_array(
                F.collect_list(
                    F.when(F.col("_rn") <= sample_size, F.col("doc_id"))
                )
            ).alias("member_sample"),
        )
        .where(F.col("group_size") > 1)
    )


def payload_duplicates(
    df: DataFrame,
    bytes_col: str = "bytes",
    id_col: str = "image_id",
    sample_size: int = 16,
) -> DataFrame:
    """Byte-exact duplicate PAYLOADS stored under different ids — the first
    dedup pass of any image corpus, below phash near-dup (re-encoded /
    resized copies) and beside caption collisions (cross-field integrity):
    the same blob ingested twice passes uniqueness on image_id, pixel
    verification, and every header check, and silently double-weights its
    content in training. exact_duplicates is its TEXT sibling and is wrong
    for binary (its normalization lowercases/collapses whitespace — byte
    semantics demand identity).

    Fingerprint = md5(hex(payload)) — hex first, deliberately: Spark's md5
    accepts BINARY but DuckDB's does not, and this engine's contract is
    that every operator's arithmetic is replayable in the SQL oracle;
    hex() is bit-identical uppercase in both engines, so the fingerprint
    is portable. Cost: the hash input transiently doubles per row in the
    map stage — no extra scan, shuffle, or memory shape change (the
    shuffle key is the 32-char digest either way). NULL payloads are out
    of scope (NotNullRule owns them).

    Same bounded-output shape as exact_duplicates: one row per duplicate
    group (fp, group_size, representative = min id, first ``sample_size``
    member ids via a sort-based spilling window) — a viral blob with 10^8
    copies costs one count row, never an id-array buffer."""
    fp_docs = df.where(F.col(bytes_col).isNotNull()).select(
        F.col(id_col).alias("doc_id"),
        F.md5(F.hex(F.col(bytes_col))).alias("fp"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("fp").orderBy("doc_id")
    return (
        fp_docs.withColumn("_rn", F.row_number().over(w))
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("group_size"),
            F.min("doc_id").alias("representative"),
            F.sort_array(
                F.collect_list(
                    F.when(F.col("_rn") <= sample_size, F.col("doc_id"))
                )
            ).alias("member_sample"),
        )
        .where(F.col("group_size") > 1)
    )


def dedup_survivors(
    df: DataFrame,
    clusters: DataFrame,
    id_col: str = "doc_id",
    cluster_col: str = "cluster_id",
    prefer_col: str | None = None,
) -> DataFrame:
    """Materialize the deduplicated corpus: keep exactly one row per cluster
    (plus every row absent from ``clusters``), drop the rest. This is the
    step after any dedup family (exact fingerprints, LSH clusters,
    connected components): turn the cluster assignment into the surviving
    training set.

    Representative policy: default is the smallest ``id_col`` per cluster
    (stable, reproducible); with ``prefer_col`` (a quality/score column on
    ``df``) the row with the HIGHEST prefer value wins, ties broken by the
    largest id, NULL prefer loses to any non-NULL — one ``max_by`` over a
    (prefer, id) struct, deterministic in every engine.

    Scale shape: representative selection is a plain aggregation with
    map-side partial combine — a viral cluster with 10^8 members costs a
    partial per task, never one buffer holding the member set, and never a
    corpus-wide window. The drop list is duplicates-sized (|members| −
    |clusters|), joined back anti; singleton clusters cost nothing, so
    callers can pass an UNFILTERED assignment (e.g. every row keyed by its
    fingerprint) without a pre-count.

    ``clusters`` may be STALE relative to ``df`` (assignments computed
    before an upstream language/quality filter): membership is first
    semi-joined to the ids actually present, so an absent row can never be
    elected representative and take the surviving copies down with it."""
    membership = clusters.select(F.col(id_col), F.col(cluster_col)).join(
        df.select(F.col(id_col)), id_col, "left_semi"
    )
    if prefer_col is not None:
        scored = df.select(F.col(id_col), F.col(prefer_col)).join(
            membership, id_col
        )
        reps = scored.groupBy(cluster_col).agg(
            F.max_by(
                F.col(id_col), F.struct(F.col(prefer_col), F.col(id_col))
            ).alias("__rep")
        )
    else:
        reps = membership.groupBy(cluster_col).agg(
            F.min(id_col).alias("__rep")
        )
    drops = (
        membership.join(reps, cluster_col)
        .where(F.col(id_col) != F.col("__rep"))
        .select(id_col)
    )
    return df.join(drops, id_col, "left_anti")


def boilerplate_line_removal(
    df: DataFrame,
    text_column: str = "text",
    id_column: str = "doc_id",
    max_df: int = 2,
    min_chars: int = 1,
) -> DataFrame:
    """CCNet-style corpus-level LINE dedup: split every document into lines,
    count each normalized line's document frequency across the WHOLE corpus,
    and strip lines appearing in more than ``max_df`` distinct documents —
    navigation bars, cookie banners, repeated footers. The step between raw
    scrape and training set that document-level dedup cannot express (two
    docs sharing a footer are not duplicates of each other).

    Returns one row per input document: (id, n_lines, n_removed,
    cleaned_text) with surviving lines rejoined in original order — a NULL
    text coalesces to '' (one exempt blank line), never a dropped document.
    Lines are keyed by their ``normalize_text`` form (the corpus-wide
    fingerprint canon: lowercase, whitespace runs collapsed, trimmed), so a
    CRLF document's footer and its LF twin's footer count as ONE line, and
    the split itself is CRLF-safe (``\\r?\\n``). Lines whose normalized
    form is shorter than ``min_chars`` are exempt (kept, never counted) —
    with the default 1 that exempts blank/whitespace-only lines only.

    Scale shape (same posting discipline as ngram_jaccard_pairs): document
    frequency is COUNT-FIRST — distinct (line, doc) pairs then a groupBy
    count with map-side partial combine — so no per-line doc-id array ever
    materializes; a cookie banner present in 10^9 docs is one counter, not
    one buffer. The stop set joins back as a plain shuffle equi-join on a
    constant-width md5 line key (AQE-splittable; the same sha-per-line key
    CCNet shards on — md5 here because it is bit-identical in the DuckDB
    oracle), and reassembly is a per-document sort_array over that
    document's own lines — bounded by document size, never corpus-wide.
    The source is scanned twice (frequency pass + reassembly pass); callers
    with an expensive upstream plan should persist it first."""
    lines = df.select(
        F.col(id_column),
        F.posexplode(
            F.split(F.coalesce(F.col(text_column), F.lit("")), "\\r?\\n", -1)
        ).alias("__pos", "__line"),
    )
    norm = normalize_text(F.col("__line"))
    lines = lines.withColumn(
        "__key",
        F.when(F.length(norm) >= min_chars, F.md5(norm)),
    )
    dfreq = (
        lines.where(F.col("__key").isNotNull())
        .select("__key", id_column)
        .distinct()
        .groupBy("__key")
        .agg(F.count(F.lit(1)).alias("__df"))
    )
    stop = dfreq.where(F.col("__df") > max_df).select(
        "__key", F.lit(True).alias("__stop")
    )
    marked = lines.join(stop, "__key", "left")
    removed = F.coalesce(F.col("__stop"), F.lit(False))
    return marked.groupBy(id_column).agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(removed.cast("int")).cast("long").alias("n_removed"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            ~removed, F.struct(F.col("__pos"), F.col("__line"))
                        )
                    )
                ),
                lambda s: s["__line"],
            ),
            "\n",
        ).alias("cleaned_text"),
    )


def cross_field_duplicates(
    df: DataFrame,
    group_col: str,
    distinct_col: str,
) -> DataFrame:
    """Same-A-different-B integrity: groups sharing ``group_col`` whose
    ``distinct_col`` is NOT constant. For an image+caption corpus this is
    both directions of the classic pair-integrity check — same caption
    fingerprint attached to >1 distinct phash (stock captions / alt-text
    spam), and same phash carrying >1 distinct caption (relabeled crops) —
    one operator, arguments swapped.

    Output is one BOUNDED row per offending group: (group value, n_rows,
    n_distinct, lo/hi example of the distinct values) — min/max as the two
    examples keeps a viral group's output fixed-width where a member
    sample would balloon. Plan: one groupBy on ``group_col`` (uniform hash
    key), count_distinct's standard two-phase expansion — no windows, no
    arrays, NULL ``distinct_col`` values ignored (NotNullRule owns them)."""
    g = F.col(group_col)
    d = F.col(distinct_col)
    return (
        df.where(g.isNotNull())
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count_distinct(d).alias("n_distinct"),
            F.min(d).alias("example_lo"),
            F.max(d).alias("example_hi"),
        )
        .where(F.col("n_distinct") > 1)
    )


# ------------------------------------------------------------ minhash + LSH

# deterministic seeds for the minhash permutations
_MINHASH_SEED = 0x5EED


def minhash_signature(shingle_arr: Column, num_hashes: int) -> Column:
    """num_hashes-long minhash signature: hash every shingle STRING once,
    then derive permutation j by re-hashing the resulting 64-bit value with
    seed j — num_hashes× fewer variable-length string hashes (the string
    hash dominates; mixing a fixed 8-byte long is nearly free). Pure column
    algebra — the whole signature is one codegen'd expression, no UDF, no
    shuffle."""
    base = F.transform(shingle_arr, lambda s: F.xxhash64(s, F.lit(_MINHASH_SEED)))

    def perm_min(j: int) -> Column:
        # single-arg lambda: a second param would be bound to the array index
        return F.array_min(
            F.transform(base, lambda h: F.xxhash64(h, F.lit(_MINHASH_SEED + j)))
        )

    return F.array(*[perm_min(j) for j in range(num_hashes)])


@lru_cache(maxsize=32)
def _minhash_signature_cached(col_name: str, num_hashes: int) -> Column:
    """Module-level memo of the signature Column over a NAMED input column:
    building it costs ~10·num_hashes py4j round trips (~0.3 s of pure
    driver latency per query construction at 32 hashes — measured round 6);
    Column trees are immutable, so one instance serves every plan. Same
    expression, same hashes — this only removes repeated construction."""
    return minhash_signature(F.col(col_name), num_hashes)


@lru_cache(maxsize=32)
def _minhash_sig_from_hashes_cached(col_name: str, num_hashes: int) -> Column:
    """Signature over a column that ALREADY holds the base shingle hashes
    (``xxhash64(shingle, _MINHASH_SEED)`` values, deduplicated). Permutation
    values are bit-identical to :func:`minhash_signature` over the shingle
    strings: each perm re-hashes the same 64-bit base values, and
    ``array_min`` is invariant under both the dedup and the element order of
    ``array_distinct`` — so banding (and therefore candidate recall) is
    unchanged when callers switch to hashed-shingle inputs."""
    base = F.col(col_name)

    def perm_min(j: int) -> Column:
        return F.array_min(
            F.transform(base, lambda h: F.xxhash64(h, F.lit(_MINHASH_SEED + j)))
        )

    return F.array(*[perm_min(j) for j in range(num_hashes)])


@lru_cache(maxsize=32)
def _band_structs_cached(num_hashes: int, bands: int) -> Column:
    """Memoized per-band bucket structs over the named 'sig' column (the
    companion of _minhash_signature_cached — ~10·bands py4j calls saved)."""
    r = num_hashes // bands
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(
                    F.lit(b),
                    F.concat_ws(
                        ",",
                        *[
                            F.element_at("sig", b * r + j + 1).cast("string")
                            for j in range(r)
                        ],
                    ),
                ).alias("h"),
            )
            for b in range(bands)
        ]
    )


def _canonical_pairs(cand: DataFrame) -> DataFrame:
    """bucketed self-join → distinct candidate (id_a < id_b) pairs."""
    left = cand.select(F.col("bucket"), F.col("doc_id").alias("id_a"))
    right = cand.select(F.col("bucket"), F.col("doc_id").alias("id_b"))
    return (
        left.join(right, "bucket")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard of two distinct-element arrays."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return F.when(union == 0, F.lit(0.0)).otherwise(inter / union)


def minhash_lsh_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k_shingle: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.7,
) -> DataFrame:
    """MinHash + banded LSH near-dup pairs with exact-Jaccard verification.

    shingle → minhash(num_hashes) → split into `bands` bands of
    num_hashes/bands rows → bucket = hash(band index, band slice) → candidate
    pairs within buckets → verify true Jaccard ≥ threshold on the distinct
    shingle sets. With 32 hashes / 8 bands (r=4) the S-curve crosses ~0.59,
    catching ≥0.7-similar pairs with high probability.
    """
    assert num_hashes % bands == 0
    r = num_hashes // bands

    from pyspark.storagelevel import StorageLevel

    from .util import ensure_parallelism

    # Round 6 (guide §2.3 "shuffle keys and metadata instead of payloads"):
    # the shingle STRINGS never need to leave this projection. Hash each
    # shingle once (the exact base value minhash_signature computed anyway,
    # so banding is bit-identical) and carry only the deduplicated int64
    # array: the persisted cache, the signature pass and both sides of the
    # verify join all shrink from ~20-60-byte strings to 8-byte longs, and
    # exact Jaccard on the hashed sets equals Jaccard on the string sets
    # (|A∩B|/|A∪B| is preserved by an injective map; a 64-bit collision
    # inside one pair's union is ~1e-12 — and the oracle hash check at
    # three scale factors pins the fixture results exactly).
    # The emptiness filter sits ABOVE the persist: below it, predicate
    # pushdown substitutes the alias and evaluates the whole shingle
    # expression a second time per row (same pathology as the fused row
    # pass' size()>0 filter, OPTIMIZATION_r06 §3).
    docs = (
        ensure_parallelism(df)
        .select(
            F.col(id_col).alias("doc_id"),
            F.array_distinct(
                F.transform(
                    shingles(F.col(text_col), k_shingle),
                    lambda s: F.xxhash64(s, F.lit(_MINHASH_SEED)),
                )
            ).alias("shh"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
        .where(F.size("shh") > 0)
    )
    sigs = docs.select(
        "doc_id",
        _minhash_sig_from_hashes_cached("shh", num_hashes).alias("sig"),
    )

    # explode into one row per band: bucket key = hash of the band's slice
    band_structs = _band_structs_cached(num_hashes, bands)
    buckets = sigs.select(
        "doc_id",
        F.explode(band_structs).alias("bb"),
    ).select(
        "doc_id", F.concat_ws(":", F.col("bb.band"), F.col("bb.h")).alias("bucket")
    )

    pairs = _canonical_pairs(buckets)

    # verify: join hashed shingle sets back (shuffle on doc_id) and compute
    # exact J — int64 set algebra, ~3-7x fewer shuffle bytes than strings
    sh_a = docs.select(F.col("doc_id").alias("id_a"), F.col("shh").alias("sh_a"))
    sh_b = docs.select(F.col("doc_id").alias("id_b"), F.col("shh").alias("sh_b"))
    verified = (
        pairs.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .select("id_a", "id_b", F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 6).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )
    return verified.select("id_a", "id_b", "jaccard")


# ------------------------------------------------------------ n-gram jaccard


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k_shingle: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """n-gram Jaccard near-dup via inverted-index blocking (no minhash
    approximation): documents sharing at least one KEPT shingle become
    candidates (explode → self-join on shingle), then exact Jaccard filters.

    Recall boundary — candidate generation sees only shingles with document
    frequency ≤ ``max_df`` (default max(50, 1% of docs)): a pair whose every
    shared shingle is a stop-shingle (all-boilerplate twins) is NOT
    generated. That is the standard stop-shingle trade (a df>max_df key
    produces ≥ max_df²/2 candidate pairs — quadratic hot-key work that
    dominates the join at corpus scale); pass ``max_df >= count(docs)`` to
    disable the filter and make the operator exact end-to-end, at that
    quadratic cost. The EMITTED pairs always carry exact Jaccard (the verify
    stage and the safe upper-bound prune account for dropped stop-shingles;
    no generated candidate is ever wrongly pruned).
    """
    from pyspark.storagelevel import StorageLevel

    from .util import ensure_parallelism

    docs = (
        ensure_parallelism(df)
        .select(
            F.col(id_col).alias("doc_id"), shingles(F.col(text_col), k_shingle).alias("sh")
        )
        .where(F.size("sh") > 0)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    # one (doc_id, shingle) row per DISTINCT shingle per doc (shingles() is
    # array_distinct), so groupBy(shingle).count() IS the document frequency
    inv = docs.select("doc_id", F.explode("sh").alias("shingle")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    # Stop-shingles (appearing in >1% of docs, min 50) are dropped — they
    # generate quadratic candidates and never decide a high-J pair alone.
    # COUNT-FIRST: the frequency is computed as a streaming partial-agg count
    # (map-side combine, constant memory per shingle) — never as a
    # collect_set posting array. A boilerplate shingle present in 10^8-10^9
    # docs would otherwise put its entire doc-id set into ONE aggregation
    # buffer (8-16 GB → single-task OOM) only to be thrown away by the
    # max_df filter on the next line (VERDICT r3 #1).
    n_docs = docs.count()
    if max_df is None:
        max_df = max(50, int(n_docs * 0.01))
    counts = (
        inv.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    # candidate pairs by SELF-JOIN on the shingle key, not an array-side i<j
    # expansion: the combos form materialized up to max_df²/2 structs inside
    # ONE row's column value before exploding — a single boundary shingle at
    # corpus scale is a guaranteed single-task OOM (VERDICT r2 #3). As join
    # OUTPUT the same pairs stream through the operator a batch at a time,
    # and a hot shingle is splittable by AQE skew handling. The groupBy that
    # replaces `distinct` also COUNTS shared kept shingles per pair for free.
    # `kept` is a row-stream join of inv against the ≤max_df shingle set —
    # no per-shingle array ever forms anywhere in this operator.
    kept_shingles = counts.where(
        (F.col("df") > 1) & (F.col("df") <= max_df)
    ).select("shingle")
    kept = inv.join(kept_shingles, "shingle").select("shingle", "doc_id")
    pairs_c = (
        kept.select("shingle", F.col("doc_id").alias("id_a"))
        .join(kept.select("shingle", F.col("doc_id").alias("id_b")), "shingle")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared_kept"))
    )

    # SAFE candidate pruning before the expensive exact verify:
    #   true |A∩B| ≤ shared_kept + min(stop_a, stop_b)   (dropped stop-
    #   shingles can add at most min of the two docs' stop counts)
    #   true |A∪B| ≥ max(|A|, |B|)
    # so J ≤ (shared_kept + min(stop)) / max(size) — prune when that upper
    # bound is already below the threshold; no true pair can be lost.
    doc_stats = docs.select(
        "doc_id",
        F.size("sh").alias("n_sh"),
    )
    # per-doc stop-shingle count from the counts frame — a row-stream join
    # against the (small) >max_df shingle set, not a re-explode of dropped
    # posting arrays (those arrays no longer exist anywhere)
    stop_shingles = counts.where(F.col("df") > max_df).select("shingle")
    stop_counts = (
        inv.join(stop_shingles, "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_stop"))
    )
    meta = doc_stats.join(stop_counts, "doc_id", "left").select(
        "doc_id", "n_sh", F.coalesce("n_stop", F.lit(0)).alias("n_stop")
    )
    m_a = meta.select(
        F.col("doc_id").alias("id_a"),
        F.col("n_sh").alias("n_a"),
        F.col("n_stop").alias("stop_a"),
    )
    m_b = meta.select(
        F.col("doc_id").alias("id_b"),
        F.col("n_sh").alias("n_b"),
        F.col("n_stop").alias("stop_b"),
    )
    j_upper = (
        F.col("shared_kept") + F.least("stop_a", "stop_b")
    ).cast("double") / F.greatest("n_a", "n_b")
    # meta is one row per doc: small enough for AQE to broadcast at test
    # scale, sort-merge at corpus scale — don't force the strategy
    pairs = (
        pairs_c.join(m_a, "id_a")
        .join(m_b, "id_b")
        .where(j_upper >= threshold)
        .select("id_a", "id_b")
    )

    sh_a = docs.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
    sh_b = docs.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"))
    return (
        pairs.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .select(
            "id_a", "id_b", F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 6).alias("jaccard")
        )
        .where(F.col("jaccard") >= threshold)
    )


# ----------------------------------------------------------------- simhash


def simhash64(text: Column, portable: bool = False) -> Column:
    """64-bit SimHash of the whitespace tokens, entirely in column algebra.

    Each token hashes to 64 bits; bit b contributes +1/−1 to counter b; the
    sign vector packs back into a long. Implemented as aggregate() over the
    token array with a 64-slot int array accumulator — one pass, no explode,
    no shuffle, no UDF.

    portable=True swaps the token hash from xxhash64 (JVM-only) to a 64-bit
    value assembled from the first 16 hex chars of md5 — md5 produces
    identical bytes in Spark and DuckDB, so the whole signature (and any
    Hamming distance computed from it) is reproducible in an external SQL
    oracle. Two 32-bit conv() halves avoid the signed-long overflow a single
    16-hex-char conv would hit.
    """
    toks = tokens(normalize_text(text))
    zeros = F.array_repeat(F.lit(0), 64)

    def tok_hash(tok):
        if not portable:
            return F.xxhash64(tok)
        md = F.md5(tok)
        hi = F.conv(F.substring(md, 1, 8), 16, 10).cast("long")
        lo = F.conv(F.substring(md, 9, 8), 16, 10).cast("long")
        return F.shiftleft(hi, 32).bitwiseOR(lo)

    def add_token(acc, tok):
        h = tok_hash(tok)
        # getbit accepts a column bit position (shiftright does not)
        return F.transform(
            acc, lambda c, i: c + (F.getbit(h, i) * 2 - 1)
        )

    counters = F.aggregate(toks, zeros, add_token)
    # pack sign bits: sum of 2^i where counter_i > 0 (use double→long safe via
    # bit ops on aggregate to avoid 2^63 overflow: bit 63 handled by negative)
    bits = F.transform(counters, lambda c, i: F.when(c > 0, F.lit(1)).otherwise(F.lit(0)))
    packed = F.aggregate(
        F.zip_with(bits, F.sequence(F.lit(0), F.lit(63)), lambda b, i: F.struct(b.alias("b"), i.alias("i"))),
        F.lit(0).cast("long"),
        lambda acc, s: acc.bitwiseOR(
            # call_function form takes the shift amount as a column
            F.when(
                s["b"] == 1,
                F.call_function("shiftleft", F.lit(1).cast("long"), s["i"]),
            ).otherwise(F.lit(0).cast("long"))
        ),
    )
    return packed


def simhash_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bands: int = 4,
    portable: bool = False,
) -> DataFrame:
    """SimHash near-dup: pigeonhole banding (any pair within Hamming distance
    < bands must agree exactly on ≥1 of the `bands` equal-width chunks) →
    bucket join → verify popcount(xor) ≤ max_hamming.

    The pigeonhole guarantee requires bands > max_hamming (max_hamming bit
    flips can touch at most max_hamming chunks, leaving ≥1 chunk identical);
    a caller-supplied bands that is too small for its max_hamming would
    silently miss pairs, so it is raised to the next divisor of 64 that
    restores full recall.

    Zero-token documents are excluded: their signature is the all-zeros
    vector, which would declare every pair of empty documents a near-dup of
    each other (and of any doc whose counters happen to tie to 0) — noise,
    not signal.
    """
    if max_hamming >= 64:
        raise ValueError(
            f"max_hamming={max_hamming}: a 64-bit signature cannot give a "
            "recall guarantee for Hamming distances >= 64"
        )
    bands = _full_recall_bands(max_hamming, bands)

    from pyspark.storagelevel import StorageLevel

    from .util import ensure_parallelism

    sims = (
        ensure_parallelism(df)
        .where(F.length(normalize_text(F.col(text_col))) > 0)
        .select(
            F.col(id_col).alias("doc_id"),
            simhash64(F.col(text_col), portable=portable).alias("sim"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    pairs = _canonical_pairs(_band_buckets(sims, bands))
    a = sims.select(F.col("doc_id").alias("id_a"), F.col("sim").alias("sim_a"))
    b = sims.select(F.col("doc_id").alias("id_b"), F.col("sim").alias("sim_b"))
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
    )


def _full_recall_bands(max_hamming: int, bands: int) -> int:
    """Raise ``bands`` to the next divisor of 64 that restores the pigeonhole
    full-recall guarantee (bands > max_hamming): ``max_hamming`` bit flips
    can touch at most ``max_hamming`` equal-width chunks, leaving at least
    one chunk identical between any pair within the distance bound."""
    if bands <= max_hamming:
        bands = next(b for b in (2, 4, 8, 16, 32, 64) if b > max_hamming)
    return bands


def _band_buckets(sims: DataFrame, bands: int) -> DataFrame:
    """(doc_id, sim:int64) → (doc_id, bucket) with one bucket per equal-width
    signature chunk, tagged by band index so chunks from different positions
    never collide."""
    width = 64 // bands
    chunk_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col("sim"), b * width)
                .bitwiseAND(F.lit((1 << width) - 1).cast("long"))
                .alias("chunk"),
            )
            for b in range(bands)
        ]
    )
    return sims.select("doc_id", F.explode(chunk_structs).alias("bb")).select(
        "doc_id",
        F.concat_ws(":", F.col("bb.band"), F.col("bb.chunk")).alias("bucket"),
    )


def hamming_near_duplicates(
    df: DataFrame,
    sig_col: str = "phash",
    id_col: str = "image_id",
    max_hamming: int = 3,
    bands: int = 4,
) -> DataFrame:
    """Near-duplicate detection over a PRECOMPUTED 64-bit integer signature
    column — the image-axis dedup primitive: perceptual-hash (phash)
    near-dup on the images table (north star: "uniqueness checks on
    image_id and phash"; two images whose phash differ by a few bits are
    crops/re-encodes of the same picture).

    Scale design — collapse-then-pair: signatures are first collapsed to
    DISTINCT values (representative = min id, count = multiplicity). phash
    is hot-keyed by construction (the synthetic table plants 90% of rows on
    a few base patterns; real corpora behave the same — one viral image,
    10^6 copies), and pairing at the id level would emit O(count²) rows per
    hot signature. Exact-equal groups are exact_duplicates' job; THIS
    operator reports each near-pair once at the signature level, carrying
    the counts so the caller knows the blast radius. The banded bucket join
    then runs over |distinct signatures| rows, not |rows|.

    Banding is the same pigeonhole scheme as simhash_duplicates (bands
    auto-raised for guaranteed recall); verify is exact
    ``bit_count(sig_a XOR sig_b) <= max_hamming``. Pure column algebra —
    no UDF, one shuffle for the collapse, one for the bucket join.

    Output: (sig_a, sig_b, rep_a, rep_b, count_a, count_b, hamming) with
    sig_a < sig_b canonical ordering; hamming >= 1 by construction (equal
    signatures collapsed).
    """
    if max_hamming >= 64:
        raise ValueError(
            f"max_hamming={max_hamming}: a 64-bit signature cannot give a "
            "recall guarantee for Hamming distances >= 64"
        )
    bands = _full_recall_bands(max_hamming, bands)

    from pyspark.storagelevel import StorageLevel

    from .util import ensure_parallelism

    sigs = (
        ensure_parallelism(df)
        .where(F.col(sig_col).isNotNull())
        .groupBy(F.col(sig_col).cast("long").alias("sim"))
        .agg(
            F.min(F.col(id_col)).alias("rep"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    buckets = _band_buckets(sigs.select(F.col("sim").alias("doc_id"), "sim"), bands)
    pairs = _canonical_pairs(buckets)  # id_a/id_b are the signatures here
    a = sigs.select(
        F.col("sim").alias("id_a"),
        F.col("rep").alias("rep_a"),
        F.col("cnt").alias("count_a"),
    )
    b = sigs.select(
        F.col("sim").alias("id_b"),
        F.col("rep").alias("rep_b"),
        F.col("cnt").alias("count_b"),
    )
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(
            F.col("id_a").alias("sig_a"),
            F.col("id_b").alias("sig_b"),
            "rep_a",
            "rep_b",
            "count_a",
            "count_b",
            F.bit_count(F.col("id_a").bitwiseXOR(F.col("id_b"))).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
    )


# ------------------------------------------------------- embedding near-dup


def _norm(v: Column) -> Column:
    return F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)
    denom = _norm(a) * _norm(b)
    return F.when(denom == 0, F.lit(0.0)).otherwise(dot / denom)


#: literal-plane codegen budget: dim × n_planes literals beyond this blow up
#: Catalyst analysis / Janino codegen (same bound as similarity._assign_cells)
_SRP_LITERAL_BUDGET = 2048


def _srp_planes(dim: int, n_planes: int) -> list[list[float]]:
    """Deterministic ±1 hyperplanes: component i of plane j from a seeded
    md5 bit — pure driver-side Python, no RNG state, stable across runs."""
    import hashlib

    return [
        [
            1.0
            if hashlib.md5(f"srp:{j}:{i}".encode()).digest()[0] & 1
            else -1.0
            for i in range(dim)
        ]
        for j in range(n_planes)
    ]


@lru_cache(maxsize=16)
def _srp_bits_column(dim: int, n_planes: int) -> Column:
    """Memoized literal-plane SRP sketch Column over the fixed 'v' input:
    building it costs dim × n_planes F.lit py4j round trips (~1 s of pure
    driver latency at 64×16 — measured round 6); planes are deterministic
    in (dim, n_planes) and Column trees immutable, so one instance serves
    every plan. Identical expression, identical bits."""
    planes = _srp_planes(dim, n_planes)

    def srp_bit(j: int) -> Column:
        lit_plane = F.array(*[F.lit(c) for c in planes[j]])
        dot = F.aggregate(
            F.zip_with(F.col("v"), lit_plane, lambda x, p: x * p),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        return F.when(dot > 0, F.lit("1")).otherwise(F.lit("0"))

    return F.concat(*[srp_bit(j) for j in range(n_planes)])


def embedding_near_duplicates(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    n_planes: int = 16,
    bands: int = 4,
    force: str | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup via random-hyperplane (SRP) LSH.

    Sign of dot(v, plane_j) gives an n_planes-bit sketch whose per-bit
    collision probability is 1 − θ/π; banding the sketch buckets
    high-cosine pairs together. Verify = exact cosine ≥ threshold.

    Planes are deterministic driver-side constants (seeded md5 ±1). Two
    physical strategies with identical results (``force`` pins one for
    parity tests): below _SRP_LITERAL_BUDGET the planes unroll as literal
    arrays into one codegen'd expression; above it (768-dim × 16 planes =
    12k literals would mean per-row hash work or codegen blowup) an Arrow
    mapInPandas kernel ships the plane matrix to workers once and pays ONE
    matmul sign-pass per batch — the 100 TB path."""
    assert n_planes % bands == 0
    width = n_planes // bands

    from pyspark.storagelevel import StorageLevel

    from .util import ensure_parallelism

    vecs = (
        ensure_parallelism(df)
        .select(
            F.col(id_col).alias("doc_id"), F.col(vec_col).cast("array<double>").alias("v")
        )
        .where(F.size(vec_col) > 0)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    first = vecs.select(F.size("v").alias("d")).first()
    if first is None:  # empty input: no pairs by construction
        dim = 1
    else:
        dim = int(first["d"])
    planes = _srp_planes(dim, n_planes)
    strategy = force or (
        "literal" if dim * n_planes <= _SRP_LITERAL_BUDGET else "arrow"
    )

    if strategy == "literal":
        sk = vecs.select(
            "doc_id", _srp_bits_column(dim, n_planes).alias("bits")
        )
    else:
        import numpy as np
        from pyspark.sql.types import StringType, StructField, StructType

        P = np.asarray(planes, dtype=np.float64)  # (n_planes, dim)
        out_schema = StructType(
            [vecs.schema["doc_id"], StructField("bits", StringType())]
        )

        def sign_pass(it):
            for pdf in it:
                out = pdf[["doc_id"]].copy()
                if len(pdf):
                    V = np.array(pdf["v"].tolist(), dtype=np.float64)
                    B = (V @ P.T) > 0  # (rows, n_planes) — one matmul/batch
                    out["bits"] = [
                        "".join("1" if x else "0" for x in row) for row in B
                    ]
                else:
                    out["bits"] = []
                yield out

        sk = vecs.mapInPandas(sign_pass, schema=out_schema)

    band_structs = F.array(
        *[
            F.struct(
                F.lit(g).alias("band"),
                F.substring("bits", g * width + 1, width).alias("chunk"),
            )
            for g in range(bands)
        ]
    )
    buckets = sk.select("doc_id", F.explode(band_structs).alias("bb")).select(
        "doc_id", F.concat_ws(":", F.col("bb.band"), F.col("bb.chunk")).alias("bucket")
    )
    pairs = _canonical_pairs(buckets)
    a = vecs.select(F.col("doc_id").alias("id_a"), F.col("v").alias("v_a"))
    b = vecs.select(F.col("doc_id").alias("id_b"), F.col("v").alias("v_b"))
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a", "id_b", F.round(cosine(F.col("v_a"), F.col("v_b")), 6).alias("cosine")
        )
        .where(F.col("cosine") >= threshold)
    )


# ----------------------------------------------------- duplicate clusters


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Duplicate CLUSTERS from near-dup pairs: connected components by
    iterative min-label propagation (each node adopts the smallest label in
    its neighborhood until fixpoint).

    Pair finders (minhash/simhash/ngram/embedding) emit edges; an actual
    dedup pipeline must group transitive duplicates and keep one
    representative — A~B and B~C must land in ONE cluster even though (A,C)
    was never emitted. Each round is one propagation join + aggregate PLUS
    a pointer-doubling shortcut (label ← label-of-label, the small-star /
    path-compression move of the MapReduce CC literature): propagation
    moves the min label one hop, doubling then halves every label chain, so
    convergence takes O(log diameter) rounds, not O(diameter) — a
    gradual-drift near-dup CHAIN (diameter ≫ 20 is a real corpus shape) no
    longer exhausts the round cap. Fixpoint is checked with a driver-side
    count and each round localCheckpoints to keep lineage bounded. Returns
    (node, component) where component = min node id in the cluster;
    singleton nodes never enter `pairs` so only clustered nodes appear.

    Invariant safety: labels only ever decrease and always hold the id of a
    node in the same component (a neighbor's label, or that label's own
    label), lower-bounded by the component min — so the fixpoint is exactly
    min-id labeling, same as pure propagation.
    """
    from pyspark.storagelevel import StorageLevel

    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("component"))
        .localCheckpoint()
    )

    def _round(cur):
        # ONE shuffle per round: each node's own label (flagged) unioned with
        # every neighbor's label, aggregated to (new = min of all, old = own)
        # — change detection rides the same frame instead of a second join.
        # localCheckpoint truncates lineage so round N's plan doesn't carry
        # N-1 joins (analysis time would grow superlinearly otherwise).
        msgs = (
            edges.join(cur, edges["src"] == cur["node"])
            .select(F.col("dst").alias("node"), "component", F.lit(False).alias("_own"))
        )
        own = cur.select("node", "component", F.lit(True).alias("_own"))
        agg = own.unionByName(msgs).groupBy("node").agg(
            F.min("component").alias("component"),
            F.max(F.when(F.col("_own"), F.col("component"))).alias("_old"),
        )
        # pointer doubling: follow each label to ITS label (labels are node
        # ids, so the (node → component) frame doubles as the parent map).
        # min() is belt-and-braces — label(m) ≤ m already by monotonicity.
        parents = agg.select(
            F.col("node").alias("_pnode"), F.col("component").alias("_pcomp")
        )
        jumped = (
            agg.join(parents, agg["component"] == parents["_pnode"], "left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce("_pcomp", "component")
                ).alias("component"),
                "_old",
            )
            .localCheckpoint()
        )
        n = jumped.where(F.col("component") != F.col("_old")).count()
        return jumped.select("node", "component"), n

    changed = 0
    for _ in range(max_iter):
        labels, changed = _round(labels)
        if changed == 0:
            break
    if changed > 0:
        # changed > 0 on the LAST allowed round only proves the round before
        # it wasn't fixpoint — the labels may have converged exactly on that
        # round. One confirming round distinguishes "converged at the wire"
        # (accept) from "genuinely still propagating" (refuse).
        labels, changed = _round(labels)
    edges.unpersist()
    if changed > 0:
        # exiting the loop before fixpoint would silently return SPLIT
        # components (one transitive cluster reported as several) — refuse
        # rather than emit wrong clusters. Convergence needs ≤ diameter
        # rounds; gradual-drift near-dup chains can exceed a small cap.
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} iterations "
            f"({changed} labels still changing) — raise max_iter"
        )
    return labels


def duplicate_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    sample_size: int = 16,
) -> DataFrame:
    """(representative = min id, size, first ``sample_size`` members sorted)
    per transitive duplicate cluster — the keep-one / drop-rest decision
    table of a dedup pipeline.

    Output is BOUNDED per cluster exactly like exact_duplicates: a
    boilerplate cluster of 10^8 documents must not put its entire id set
    into one aggregation buffer/output row, so the member list is a
    row_number-windowed sample (sort-based, spills) and the keep-one
    decision needs only the representative + size anyway."""
    from pyspark.sql import Window

    cc = connected_components(pairs, id_a, id_b)
    w = Window.partitionBy("component").orderBy("node")
    return (
        cc.withColumn("_rn", F.row_number().over(w))
        .groupBy("component")
        .agg(
            F.count(F.lit(1)).alias("size"),
            # collect_list drops NULLs → only the first sample_size member
            # ids (in sorted order) ever enter the aggregation buffer
            F.sort_array(
                F.collect_list(
                    F.when(F.col("_rn") <= sample_size, F.col("node"))
                )
            ).alias("member_sample"),
        )
        .select(
            F.col("component").alias("representative"),
            "size",
            "member_sample",
        )
    )


def edit_distance_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_dist: int = 2,
    k_gram: int = 3,
    max_df: int | None = None,
    short_block_cap: int = 100_000,
) -> DataFrame:
    """Fuzzy near-dup by EXACT edit distance: pairs of documents whose
    normalized texts are within ``max_dist`` Levenshtein edits — the
    typo-twin / re-crawl-variant shape Jaccard blurs (one edit barely moves
    a shingle set; a threshold loose enough to catch it drowns in noise).

    Candidate generation with a PROVEN recall guarantee — segment blocking
    (the PassJoin family, Li/Deng/Wang/Feng 2011, round-6 rewrite): each
    normalized text is split into ``d+1`` contiguous even segments; if
    ed(A, B) ≤ d then at least one of A's segments is untouched by any
    edit (pigeonhole over d edits and d+1 segments) and therefore appears
    VERBATIM in B, starting within ±d of its position in A (net prefix
    indels ≤ d). Anchors are each doc's own d+1 segment keys; probes are
    every substring a partner segment could occupy (one per candidate
    anchor length |Δlen| ≤ d × segment × ±d start shift — a constant
    ≈ (2d+1)²·(d+1) keys per doc); candidates are anchor∩probe key
    matches. The previous q-gram posting self-join generated f²/2 rows
    per hot gram — over a small-vocabulary corpus that degenerated to
    near-all-pairs (measured 9.5M candidates / 22 s on 5.5k docs);
    segments only collide on 1/(d+1)-length verbatim runs. Keys travel as
    xxhash64 of the segment text — a collision only ADDS a candidate for
    the exact verify to discard, never drops one.

    Strings shorter than ``(d+1)·k_gram + d`` are paired all-against-all
    inside one broadcast nested-loop block (they are too short for stable
    segment statistics and historically for the q-gram bound), refused
    LOUDLY above ``short_block_cap`` (an all-pairs block is quadratic by
    nature; at corpus scale gate the short-caption tail upstream or raise
    the cap deliberately).

    The only recall trade is ``max_df`` (default max(50, 1% of docs)):
    segment keys occurring in more than ``max_df`` docs are boilerplate
    blocks (a df>max_df key yields ≥ df²/2 candidates — the quadratic
    hot-key argument), so a pair whose EVERY intact segment is such
    boilerplate is not generated. Pass ``max_df >= count(docs)`` for
    end-to-end exactness at that (then data-dependent) cost.

    Verify is exact: length pre-filter |len_a − len_b| ≤ d (an edit changes
    length by ≤ 1), then ``levenshtein(a, b, threshold)`` — Spark's bounded
    variant early-exits above the threshold, so the verify cost per pair is
    O(d·min_len), not O(len²). Emits (id_a, id_b, dist), id_a < id_b."""
    from pyspark.storagelevel import StorageLevel

    from .util import ensure_parallelism

    d = int(max_dist)
    k = int(k_gram)
    short_lim = (d + 1) * k + d  # below this, the q-gram guarantee can't hold

    docs = (
        ensure_parallelism(df)
        .select(
            F.col(id_col).alias("doc_id"),
            normalize_text(F.col(text_col)).alias("t"),
        )
        .where(F.length("t") > 0)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    n_docs = docs.count()
    if max_df is None:
        max_df = max(50, int(n_docs * 0.01))

    # ---- long path: PassJoin-style segment blocking (see docstring).
    # Even partition of a length-L string into m = d+1 contiguous
    # segments: base = L div m, rem = L mod m; segments 1..m-rem have
    # length base, the last rem have base+1. p_i/l_i are closed-form in
    # (L, i) so the probe side can enumerate a partner's partition without
    # seeing the partner.
    m = d + 1

    def _seg(la, i):
        """(start, length) Columns of segment i (1-based) for anchor
        length Column ``la``."""
        base = (la / m).cast("int")
        rem = la % m
        li = base + F.when(F.lit(i) > m - rem, F.lit(1)).otherwise(F.lit(0))
        pi = (
            F.lit(1)
            + F.lit(i - 1) * base
            + F.greatest(F.lit(0), F.lit(i - 1) - (F.lit(m) - rem))
        )
        return pi, li

    t = F.col("t")
    ln = F.length("t")
    longs = docs.where(ln >= m)
    anchor_structs = []
    for i in range(1, m + 1):
        pi, li = _seg(ln, i)
        anchor_structs.append(
            F.struct(
                ln.alias("la"),
                F.lit(i).alias("i"),
                F.xxhash64(t.substr(pi, li)).alias("h"),
            )
        )
    anchors = longs.select(
        "doc_id", F.explode(F.array(*anchor_structs)).alias("s")
    ).select("doc_id", "s.la", "s.i", "s.h")

    probe_structs = []
    for dl in range(-d, d + 1):  # partner (anchor) length = own length + dl
        la = ln + dl
        for i in range(1, m + 1):
            pi, li = _seg(la, i)
            for dq in range(-d, d + 1):  # start shift of the intact segment
                q = pi + F.lit(dq)
                valid = (
                    (la >= m)
                    & (q >= 1)
                    & (q + li - 1 <= ln)
                )
                probe_structs.append(
                    F.when(
                        valid,
                        F.struct(
                            la.alias("la"),
                            F.lit(i).alias("i"),
                            F.xxhash64(t.substr(q, li)).alias("h"),
                        ),
                    )
                )
    probes = docs.select(
        "doc_id",
        F.explode(F.array_compact(F.array(*probe_structs))).alias("s"),
    ).select("doc_id", "s.la", "s.i", "s.h")

    # hot-segment cap: the max_df recall trade documented above (skipped
    # entirely in exactness mode so no df pass is paid)
    if max_df < n_docs:
        key_df = anchors.groupBy("la", "i", "h").agg(
            F.count_distinct("doc_id").alias("_df")
        )
        kept_keys = key_df.where(F.col("_df") <= max_df).select("la", "i", "h")
        anchors = anchors.join(kept_keys, ["la", "i", "h"])
    gram_pairs = (
        anchors.select("la", "i", "h", F.col("doc_id").alias("_xa"))
        .join(probes.select("la", "i", "h", F.col("doc_id").alias("_xb")),
              ["la", "i", "h"])
        .where(F.col("_xa") != F.col("_xb"))
        .select(
            F.least("_xa", "_xb").alias("id_a"),
            F.greatest("_xa", "_xb").alias("id_b"),
        )
    )

    # ---- short path: any pair with min(len) < (d+1)k has max(len) <
    # (d+1)k + d, so blocking ALL docs below short_lim against each other
    # (with the |Δlen| ≤ d filter inside the join) completes the recall the
    # gram path cannot give short strings
    shorts = docs.where(F.length("t") < short_lim).select(
        F.col("doc_id"), F.col("t"), F.length("t").alias("n")
    )
    n_short = shorts.count()
    if n_short > short_block_cap:
        raise ValueError(
            f"edit_distance_duplicates: {n_short} documents shorter than "
            f"{short_lim} chars exceed short_block_cap={short_block_cap}; "
            "an all-pairs block over them is quadratic. Filter the "
            "short-text tail upstream or raise short_block_cap deliberately."
        )
    a = shorts.select(
        F.col("doc_id").alias("id_a"), F.col("t").alias("_ta"), F.col("n").alias("_na")
    )
    b = shorts.select(
        F.col("doc_id").alias("id_b"), F.col("t").alias("_tb"), F.col("n").alias("_nb")
    )
    short_pairs = (
        F.broadcast(a)
        .join(
            b,
            (F.col("id_a") < F.col("id_b"))
            & (F.abs(F.col("_na") - F.col("_nb")) <= d),
        )
        .select("id_a", "id_b")
    )

    # ---- union, dedup (a pair can arrive via many grams and/or both
    # paths), then ONE exact bounded-levenshtein verify per candidate
    cand = gram_pairs.unionByName(short_pairs).distinct()
    ta = docs.select(F.col("doc_id").alias("id_a"), F.col("t").alias("_ta2"))
    tb = docs.select(F.col("doc_id").alias("id_b"), F.col("t").alias("_tb2"))
    verified = (
        cand.join(ta, "id_a")
        .join(tb, "id_b")
        .where(
            F.abs(F.length("_ta2") - F.length("_tb2")) <= d  # cheap prune
        )
        .select(
            "id_a",
            "id_b",
            F.levenshtein(F.col("_ta2"), F.col("_tb2"), d).alias("dist"),
        )
        .where(F.col("dist") >= 0)  # bounded variant returns -1 above d
    )
    # the pair set is near-dup-density-sized (bounded), the cache feeding
    # it is corpus-sized: materialize the small result eagerly, then
    # RELEASE the cache — a parameter sweep must not accumulate
    # application-lifetime cache entries
    result = verified.select("id_a", "id_b", "dist").localCheckpoint(eager=True)
    docs.unpersist()
    return result


# ------------------------------------------------- repeated spans (winnow)


def _check_span_params(k: int, window: int) -> None:
    if k < 2:
        raise ValueError(f"span dedup: k must be >= 2 chars, got {k}")
    if window < 2:
        raise ValueError(
            f"span dedup: window must be >= 2 grams, got {window} "
            "(window=1 is every gram — use exact/minhash dedup instead)"
        )


def span_fingerprints(text: Column, k: int = 16, window: int = 32) -> Column:
    """Winnowed span fingerprints of the normalized text, with positions:
    ``array<struct<fp:string, pos:int>>`` — one entry per sliding window of
    ``window`` consecutive character-``k``-gram hashes, ``fp`` = the window's
    minimal hash, ``pos`` = the window's 1-based start offset in the
    normalized text.

    The winnowing guarantee (Schleimer/Wilkerson/Aiken, MOSS): because EVERY
    window is enumerated and fingerprints are compared by VALUE, any two
    documents whose normalized texts share a substring of length
    ≥ ``window + k − 1`` chars share at least one fingerprint — the shared
    region contains ≥ ``window`` consecutive identical gram hashes, the
    window aligned with the region's start exists in both documents, and its
    min is the same hash value in both. Detection is therefore deterministic,
    not probabilistic (modulo 60-bit md5-prefix collisions).

    Hash = first 15 hex digits of md5 over the k-char gram — the portable
    convention (reconcile.py/sampling.py), byte-identical in DuckDB, and
    lexicographic min over fixed-length lowercase hex equals numeric min.
    Pure column algebra (sequence/transform/slice/array_min) — codegen, no
    UDF, no shuffle. Documents shorter than ``window + k − 1`` normalized
    chars emit an empty array: they are below the span-length floor this
    operator detects (exact/minhash dedup own whole-short-doc duplication).

    This single expression is the SEMANTIC SPEC (and the parity-test
    subject): as one nested expression, Catalyst re-evaluates the captured
    gram-hash array inside the per-window lambda — O(n²·window) per doc.
    The production path is _span_postings, which evaluates the identical
    algebra staged behind Generate boundaries at the intended
    O(n·window); do not apply this column to real corpora directly."""
    _check_span_params(k, window)
    t = normalize_text(text)
    n = F.length(t)
    n_grams = n - (k - 1)
    hashes = F.transform(
        F.sequence(F.lit(1), n_grams),
        lambda i: F.substring(F.md5(t.substr(i, F.lit(k))), 1, 15),
    )
    n_wins = n_grams - (window - 1)
    empty = F.array().cast("array<struct<fp:string,pos:int>>")
    return F.when(n < k + window - 1, empty).otherwise(
        F.transform(
            F.sequence(F.lit(1), n_wins),
            lambda j: F.struct(
                F.array_min(F.slice(hashes, j, window)).alias("fp"),
                j.cast("int").alias("pos"),
            ),
        )
    )


def _span_postings_kernel(k: int, window: int):
    """Per-batch numpy winnowing kernel (module-level so executors import it
    instead of re-pickling a closure chain): normalized text in → distinct
    (doc_id, fp, pos) postings out. Identical algebra to span_fingerprints
    (the semantic spec): md5 over each char-k-gram, 15-hex prefix, min per
    sliding window of ``window`` gram hashes, first window pos per distinct
    fingerprint. The 15-hex prefix maps to a 60-bit integer whose numeric
    order equals the lexicographic order of lowercase hex, so the window
    min and the per-doc dedup run as vectorized int64 reductions."""
    import hashlib

    import numpy as np
    import pandas as pd

    swv = np.lib.stride_tricks.sliding_window_view

    def kernel(batches):
        for pdf in batches:
            ids, fps, poss = [], [], []
            for did, t in zip(pdf["doc_id"], pdf["__t"]):
                b = t.encode("utf-8")
                if len(b) == len(t):
                    # ASCII fast path: grams are byte windows; hash only the
                    # DISTINCT grams (repetitive text shares most grams)
                    u8 = np.frombuffer(b, dtype=np.uint8)
                    grams = (
                        swv(u8, k).copy().view(f"S{k}").ravel()
                    )
                    ug, inv = np.unique(grams, return_inverse=True)
                    uh = np.fromiter(
                        (
                            int(hashlib.md5(g).hexdigest()[:15], 16)
                            for g in ug.tolist()
                        ),
                        dtype=np.int64,
                        count=len(ug),
                    )
                    h = uh[inv]
                else:
                    # non-ASCII: per-CHARACTER gram semantics (matches Spark
                    # substr and DuckDB substr), plain loop
                    h = np.fromiter(
                        (
                            int(
                                hashlib.md5(t[i : i + k].encode()).hexdigest()[
                                    :15
                                ],
                                16,
                            )
                            for i in range(len(t) - k + 1)
                        ),
                        dtype=np.int64,
                        count=len(t) - k + 1,
                    )
                wins = swv(h, window).min(axis=1)
                ufp, first = np.unique(wins, return_index=True)
                n = len(ufp)
                ids.extend([did] * n)
                fps.extend(format(v, "015x") for v in ufp.tolist())
                poss.extend((first + 1).tolist())
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype=pdf["doc_id"].dtype),
                    "fp": fps,
                    "pos": pd.Series(poss, dtype="int32"),
                }
            )

    return kernel


def _span_postings(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int,
    window: int,
) -> DataFrame:
    """NARROW distinct (doc_id, fp, pos) posting rows — the doc's FIRST
    window position per winnowed fingerprint. Count-first discipline
    throughout (the ngram_jaccard lesson): fingerprints are ROWS and every
    downstream stage aggregates counts — no per-fingerprint doc-id array
    ever materializes, so a boilerplate span shared by 10^9 documents costs
    rows, never one aggregation buffer.

    The gram-hash + window-min walk runs as ONE mapInPandas pass over
    (doc_id, normalized text): md5 per distinct gram and the sliding-window
    min are numpy int64 kernels instead of interpreted CodegenFallback
    expressions (the prior staged-Generate form paid O(n·window)
    per-element `array_min(slice(...))` object churn — guide §4.2: hand
    whole batches to vectorized native code). Postings deliberately carry
    NO span text: every shuffle downstream moves ~25-byte rows, and the
    example span slice is re-derived for final winner rows only via
    ``_attach_span`` (guide §8: decide with small rows, move heavy bytes
    once)."""
    from .util import ensure_parallelism

    _check_span_params(k, window)
    span_len = window + k - 1
    t = normalize_text(F.col(text_col))
    staged = (
        # the gram-hash stage is CPU-bound per char — a single-file input
        # must not serialize it (same insurance as the minhash signature)
        ensure_parallelism(df)
        .select(F.col(id_col).alias("doc_id"), t.alias("__t"))
        .where(F.length("__t") >= span_len)
    )
    id_type = staged.schema["doc_id"].dataType.simpleString()
    return staged.mapInPandas(
        _span_postings_kernel(k, window),
        f"doc_id {id_type}, fp string, pos int",
    )


def _attach_span(
    result: DataFrame,
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int,
    window: int,
    doc_col: str,
    pos_col: "Column",
) -> tuple[DataFrame, "Column"]:
    """Re-derive the example span text for FINAL winner rows: join the
    (small) result frame back to the corpus on the witness doc id and slice
    the normalized text at the winning position. Returns (joined frame,
    span Column). This keeps span bytes out of every posting shuffle — the
    one place the text is moved is this winners-only join."""
    span_len = window + k - 1
    docs = df.select(
        F.col(id_col).alias(doc_col),
        normalize_text(F.col(text_col)).alias("__t"),
    )
    joined = result.join(docs, doc_col)
    return joined, F.col("__t").substr(pos_col, F.lit(span_len))


def repeated_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 16,
    window: int = 32,
    min_docs: int = 2,
) -> DataFrame:
    """Span-level (exact-substring) duplication per document — the
    Lee-et-al-style dedup tier BETWEEN line-level boilerplate removal
    (full lines only) and document-level near-dup (whole-doc similarity):
    a licence header, quoted paragraph, or templated sentence repeated
    across otherwise-distinct documents is invisible to both, but inflates
    a training corpus all the same.

    One row per document that shares ≥1 winnowed span fingerprint with
    ≥ ``min_docs − 1`` OTHER documents (``min_docs`` counts distinct docs
    per fingerprint, this one included): (doc_id, n_fps, n_repeated,
    repeated_frac, max_span_docs, example_fp/pos/span — the lexicographically
    first repeated fingerprint's first occurrence). Any cross-doc repeated
    normalized substring of length ≥ ``window + k − 1`` chars (default 47)
    is GUARANTEED to be caught (see span_fingerprints).

    Scale shape: one corpus scan builds NARROW posting rows (one
    mapInPandas winnow kernel → distinct ~25-byte (doc_id, fp, pos) rows,
    no span text anywhere in flight); document frequencies are a count
    aggregation over postings (map-side combine — never an id array); the
    repeated-fp set LEFT-joins back onto postings as rows (AQE handles a
    hot fingerprint) and ONE per-doc aggregation produces totals, repeated
    counts, and the example witness together — postings have exactly two
    consumers. The postings frame (~2·n_chars/(window+1) rows per doc —
    winnowing's expected density) is persisted across them and released
    before return; the example span TEXT is re-derived at the end for
    winner docs only (one narrow join back to the corpus — guide §8:
    decide with small rows, move heavy bytes once). At full corpus scale
    persist postings to a table instead (the write_dedup_index pattern)."""
    from pyspark.storagelevel import StorageLevel

    if min_docs < 2:
        raise ValueError("repeated_spans: min_docs must be >= 2")
    posts = _span_postings(df, text_col, id_col, k, window).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    counts = posts.groupBy("fp").agg(F.count(F.lit(1)).alias("n_docs"))
    repeated = counts.where(F.col("n_docs") >= min_docs)
    marked = posts.join(repeated, "fp", "left")
    rep = F.col("n_docs").isNotNull()
    result = (
        marked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_fps"),
            F.sum(rep.cast("int")).cast("long").alias("n_repeated"),
            F.max("n_docs").alias("max_span_docs"),
            F.min(F.when(rep, F.struct("fp", "pos"))).alias("__ex"),
        )
        .where(F.col("n_repeated") > 0)
    )
    joined, span = _attach_span(
        result, df, text_col, id_col, k, window, "doc_id", F.col("__ex.pos")
    )
    out = joined.select(
        "doc_id",
        "n_fps",
        "n_repeated",
        F.round(F.col("n_repeated") / F.col("n_fps"), 6).alias(
            "repeated_frac"
        ),
        "max_span_docs",
        F.col("__ex.fp").alias("example_fp"),
        F.col("__ex.pos").alias("example_pos"),
        span.alias("example_span"),
    ).localCheckpoint(eager=True)
    posts.unpersist()
    return out


def repeated_span_report(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 16,
    window: int = 32,
    min_docs: int = 2,
    top_n: int = 100,
) -> DataFrame:
    """Corpus-level view of the same postings: the ``top_n`` most widely
    shared span fingerprints — (fp, n_docs, example doc/pos/span, taken as
    the lexicographically first occurrence so both engines elect the same
    witness). One aggregation per fingerprint + a TakeOrdered top-N
    (per-partition heaps — never a full sort shuffle); ties broken by fp so
    the cut is deterministic. The witness span text is re-derived for the
    ``top_n`` winner rows only (one broadcast-sized join back to the
    corpus) — postings stay narrow end to end."""
    posts = _span_postings(df, text_col, id_col, k, window)
    top = (
        posts.groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(F.struct("doc_id", "pos")).alias("__ex"),
        )
        .where(F.col("n_docs") >= min_docs)
        .select(
            "fp",
            "n_docs",
            F.col("__ex.doc_id").alias("example_doc"),
            F.col("__ex.pos").alias("example_pos"),
        )
        .orderBy(F.col("n_docs").desc(), "fp")
        .limit(top_n)
    )
    joined, span = _attach_span(
        top, df, text_col, id_col, k, window, "example_doc",
        F.col("example_pos"),
    )
    return joined.select(
        "fp",
        "n_docs",
        "example_doc",
        "example_pos",
        span.alias("example_span"),
    ).orderBy(F.col("n_docs").desc(), "fp")
