"""Deduplication operators: exact, MinHash+LSH, SimHash.

Ancestry: the reference deduplicates producer-side with an LRU set keyed on
``url || title|publishedAt`` (/root/reference/app/news_producer.py:30-48,
120-125). The engine generalizes that to distributed, content-based dedup:

- ``exact_dedup`` — keep-first by key via Window ``row_number`` (one shuffle
  on the dedup key; no driver state, unlike the LRU).
- ``minhash_signature_table`` / ``lsh_candidate_pairs`` — near-dup
  detection at scale: per-doc MinHash signature (explode → MIN aggregates
  over ``xxhash64``), banded into LSH buckets, candidate pairs generated
  *within* each bucket (shuffle on band hash — never the O(n²) cross
  join), then verified with exact Jaccard on shingles.
- ``simhash_table`` / ``simhash_near_dup_pairs`` — 63-bit SimHash as an
  explode → groupBy aggregation; near dups share a signature chunk and
  sit within a small Hamming distance (``bit_count(a ^ b)``).

All the hashing stays JVM-side (``xxhash64`` is a Catalyst expression), so
these run inside whole-stage codegen with zero Python workers.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from sparkstreamingrealtimedatawithkafka_spark.functions.pairs import array_pairs


def exact_dedup(df: DataFrame, keys: list[str], order_by: list[Column]) -> DataFrame:
    """Keep the first row per key under a deterministic order."""
    w = W.partitionBy(*keys).orderBy(*order_by)
    return df.withColumn("__rk", F.row_number().over(w)).filter(F.col("__rk") == 1).drop("__rk")


def simhash_table(
    df: DataFrame, id_col: str, tokens_col: str, bits: int = 63, lane_bits: int = 16
) -> DataFrame:
    """SimHash as an explode → groupBy aggregation: (id, sig bigint).

    Per-bit one-votes are packed into ``64 // lane_bits`` SIMD-style counter
    lanes per long, so the aggregation is ~bits/lanes SUM aggregates instead
    of one per bit (16 vs 63 at the default width — ~4× less aggregate
    state and codegen). Bit i of the signature is set iff more than half the
    token hashes have bit i set (ties → 0), identical to the ±1-vote
    formulation. ``lane_bits=16`` caps documents at 65535 tokens; widen the
    lane for pathological inputs. Docs with empty token sets are absent
    from the output (nothing to collide on).
    """
    lanes = 64 // lane_bits
    mask = (1 << lane_bits) - 1
    tok = df.select(F.col(id_col).alias("id"), F.explode(tokens_col).alias("tok"))
    hashed = tok.withColumn("h", F.xxhash64("tok"))

    packs = []
    for g in range((bits + lanes - 1) // lanes):
        if lanes == 4 and lane_bits == 16:
            # Multiply-spread: one nibble of h fans out into the 4 lanes in
            # 3 ops instead of 12. nibble * (1 + 2^15 + 2^30 + 2^45) puts
            # bit j at position j + 15j = 16j (the 16 partial positions
            # j + 15k are pairwise distinct, so no carries), and the lane
            # mask keeps exactly those. Bit positions beyond ``bits``
            # accumulate into a lane the reconstruction below never reads,
            # so signatures are bit-identical to the term-sum formulation
            # at ~4x less per-row work (the cost that dominates before the
            # JIT's C2 tier reaches the generated code).
            spread = F.lit((1 << 45) | (1 << 30) | (1 << 15) | 1)
            lane_mask = F.lit((1 << 48) | (1 << 32) | (1 << 16) | 1)
            nib = F.shiftright("h", g * 4).bitwiseAND(F.lit(15))
            packs.append(F.sum((nib * spread).bitwiseAND(lane_mask)).alias(f"p{g}"))
            continue
        lane_sum = None
        for j in range(lanes):
            i = g * lanes + j
            if i >= bits:
                break
            term = F.shiftleft(F.shiftright("h", i).bitwiseAND(F.lit(1)), j * lane_bits)
            lane_sum = term if lane_sum is None else lane_sum + term
        packs.append(F.sum(lane_sum).alias(f"p{g}"))
    votes = hashed.groupBy("id").agg(*packs, F.count(F.lit(1)).alias("n"))

    # Reconstruction as ONE higher-order aggregate over a lane array
    # instead of a 63-term sum of shift/mask/when trees: the unrolled form
    # made every fresh plan pay ~1s of Catalyst analysis (measured 2.26s
    # -> 1.22s end-to-end for the signature stage at sf0.1, bit-identical
    # output). 63 interpreted lambda steps per DOC are noise next to the
    # per-TOKEN work; planning cost is what the big tree actually bought.
    n_groups = (bits + lanes - 1) // lanes
    parr = votes.select(
        "id", "n", F.array(*[F.col(f"p{g}") for g in range(n_groups)]).alias("parr")
    )
    sig = F.expr(
        f"aggregate(sequence(0, {bits - 1}), CAST(0 AS BIGINT), (acc, i) -> "
        f"acc + IF((shiftright(element_at(parr, CAST(i div {lanes} AS INT)+1), "
        f"CAST((i % {lanes})*{lane_bits} AS INT)) & {mask}) * 2 > n, "
        f"shiftleft(CAST(1 AS BIGINT), CAST(i AS INT)), CAST(0 AS BIGINT)))"
    )
    return parr.select("id", sig.alias("sig"))


def minhash_signature_table(
    df: DataFrame, id_col: str, tokens_col: str, num_hashes: int = 32
) -> DataFrame:
    """MinHash signatures as explode → groupBy MIN aggregates: (id, sig
    array<bigint>).

    Same rationale as ``simhash_table``: k codegen'd MIN aggregates beat a
    per-row nested transform at scale. Each token is hashed to a long ONCE
    and the k per-seed hashes mix that 8-byte value instead of re-hashing
    the token string k times — measured 1.3 -> 1.0 s for the signature
    stage at sf0.1 with 64 hashes (token strings average ~12 bytes; at
    100 TB the k-fold string re-hash is pure waste). Still a valid
    min-wise family: xxhash64(h0, seed) is an independent-per-seed hash
    of an injective-in-practice token digest; candidate recall vs the
    all-pairs ground truth re-validated at 1.0 on all three fixture
    corpora after the change. Docs with an empty token set produce
    no exploded rows and so are absent from the output — they have no
    shingle content to collide on.

    The k aggregates and the signature array are SQL strings, one py4j
    call each, rather than column builders, which cost ~10 JVM round trips
    per aggregate. Same optimized plan; building it (no job) at 64 hashes
    over sf0.001 ``documents`` took a median 300–370 ms as builders and
    130–150 ms as strings (4 vCPU VM).
    """
    tok = df.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.transform(
                F.array_distinct(F.col(tokens_col)), lambda x: F.xxhash64(x)
            )
        ).alias("h0"),
    )
    mins = tok.groupBy("id").agg(
        *[F.expr(f"min(xxhash64(h0, {s})) AS m{s}") for s in range(num_hashes)]
    )
    cols = ", ".join(f"m{s}" for s in range(num_hashes))
    return mins.selectExpr("id", f"array({cols}) AS sig")


def minhash_band_table(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    num_hashes: int = 64,
    bands: int = 16,
) -> DataFrame:
    """(id, band, bhash) LSH band table: MinHash signatures banded into
    ``bands`` groups of ``num_hashes // bands`` rows, each band's slice
    hashed to one bucket key. This is the PERSISTABLE index of the LSH
    family — write it once per corpus snapshot and incremental dedup joins
    new batches against it (``incremental_lsh_pairs``) instead of
    re-banding 100 TB per delta."""
    rows = num_hashes // bands
    sig = minhash_signature_table(df, id_col, tokens_col, num_hashes)
    return sig.select(
        "id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.xxhash64(F.slice(F.col("sig"), b * rows + 1, rows)).alias("bhash"),
                ),
            )
        ).alias("bb"),
    ).select("id", F.col("bb.band").alias("band"), F.col("bb.bhash").alias("bhash"))


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    jaccard_threshold: float = 0.5,
    max_bucket: int | None = None,
    drop_observation=None,
) -> DataFrame:
    """Near-duplicate pairs via MinHash LSH banding + exact verification.

    Banding default (64 hashes x 16 bands x 4 rows) is a MEASURED choice
    on two failure axes (sf0.1 corpus, 5000 docs):
    - recall: 8x4 banding missed a true j=0.82 pair (P(miss)=(1-j^4)^8 ≈
      0.8% — observed at sf0.1); 16 bands drive that to ~6e-5.
    - candidate blow-up: 2-row bands (32x16) collide on weak similarity
      (P=j² per band) and generated 172,843 candidates vs 479 on this
      vocab-dense corpus — a 360x verification explosion. 4-row bands at
      16 bands measured 768 candidates.
    Rule: keep rows >= 4 so only strong similarity collides; buy recall
    with MORE BANDS (more hashes), never with shorter bands.

    Plan shape (the part that matters at 100 TB):
      1. signature: narrow map, no shuffle;
      2. explode ``bands`` rows/doc, shuffle on (band, band_hash) — the only
         wide op, and it scales with data size, not pairs;
      3. per-bucket self-join emits candidates (buckets are tiny by
         construction unless data is pathological — ``max_bucket`` is the
         opt-in guard for that case, see ``bucket_pairs``);
      4. exact Jaccard verification on the candidates only.

    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold.
    """
    banded = minhash_band_table(df, id_col, tokens_col, num_hashes, bands)
    pairs = bucket_pairs(
        banded, ["band", "bhash"], max_bucket=max_bucket, drop_observation=drop_observation
    )
    return verify_jaccard(pairs, df, id_col, tokens_col, jaccard_threshold)


def bucket_pairs(
    banded: DataFrame,
    bucket_cols: list[str],
    max_bucket: int | None = None,
    drop_observation=None,
) -> DataFrame:
    """Distinct (id_a, id_b) candidate pairs from LSH buckets.

    Pairs are generated *within* each bucket from one collect_list
    aggregation — the signature pipeline runs once (a self-join would
    compute it twice) and only (bucket key, id) ever shuffles, never token
    arrays. Buckets are tiny by construction, so the k²/2 in-bucket
    expansion is bounded.

    ``max_bucket`` is the runaway guard for pathological corpora (e.g. a
    universal shingle hashing millions of near-empty docs into one bucket,
    whose k²/2 expansion would dominate the job): buckets larger than the
    cap are DROPPED — an explicit recall sacrifice, so oracle-checked exact
    entries leave it off (None = exact) while the production pipeline
    composition turns it on. The principled fix for duplication-heavy
    corpora is ``two_stage_near_dup_pairs`` (collapse exact dups first);
    the cap is the backstop for content that is near- but not exactly
    identical at huge multiplicity.

    Drops are never silent: whenever the cap is set, an ``observe`` metric
    (``buckets_dropped`` / ``ids_in_dropped_buckets`` / ``max_bucket_size``)
    is attached — collected by Spark at action time with zero extra jobs,
    readable via a ``pyspark.sql.Observation`` passed as
    ``drop_observation`` (tests / notebooks) or via a QueryExecution
    listener under the auto-generated name (production)."""
    buckets = (
        banded.groupBy(*bucket_cols)
        .agg(F.array_sort(F.collect_list("id")).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    buckets = _drop_oversize(
        buckets, "ids", max_bucket, drop_observation,
        f"lsh_bucket_drops_{'_'.join(bucket_cols)}_{max_bucket}",
    )
    return _distinct_pairs(buckets, "ids", lambda m: m)


def _drop_oversize(buckets, members, max_bucket, drop_observation, name):
    """The ``max_bucket`` runaway guard shared by the LSH pair generators:
    drop buckets whose ``members`` array is longer than the cap, and
    observe what was dropped (``buckets_dropped`` /
    ``ids_in_dropped_buckets`` / ``max_bucket_size``) into
    ``drop_observation`` or, without one, under ``name``. ``name`` must
    be deterministic: a per-call uuid would make every invocation a
    *different* plan, defeating codegen/plan caching (measured ~1.5s/run
    regression on the full-dedup pipeline). No cap, no change."""
    if max_bucket is None:
        return buckets
    oversize = F.size(members) > max_bucket
    metrics = (
        F.sum(oversize.cast("long")).alias("buckets_dropped"),
        F.coalesce(
            F.sum(F.when(oversize, F.size(members)).otherwise(0)).cast("long"),
            F.lit(0).cast("long"),
        ).alias("ids_in_dropped_buckets"),
        F.max(F.size(members)).alias("max_bucket_size"),
    )
    observation = drop_observation if drop_observation is not None else name
    return buckets.observe(observation, *metrics).filter(~oversize)


def _distinct_pairs(buckets, members, id_of, keep=None):
    """Distinct (id_a, id_b) pairs from each bucket's sorted ``members``
    array; ``id_of`` maps a member to its id, ``keep`` (optional) sheds
    pairs inside the generating expression (see ``array_pairs``)."""
    pairs = array_pairs(
        members, lambda x, y: F.struct(id_of(x).alias("id_a"), id_of(y).alias("id_b")), keep
    )
    return (
        buckets.select(F.explode(pairs).alias("p"))
        .select("p.id_a", "p.id_b")
        .dropDuplicates(["id_a", "id_b"])
    )


def verify_jaccard(
    pairs: DataFrame,
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    jaccard_threshold: float,
) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs with ONE corpus scan.

    The candidate pairs (tiny — bounded by the banding) are eagerly
    localCheckpointed, their member ids semi-join-prune the corpus scan,
    and the pruned token table (candidate members only) is materialized
    once — the two per-side joins then probe materialized blocks instead
    of each re-running the corpus scan + tokenization. Measured 2.72s ->
    2.28s end-to-end on dedup_simhash at sf0.1 (the old two-reference
    shape re-tokenized the corpus once per join side — the
    self-referencing-plan recompute). At 100 TB this trades a second full
    corpus scan for a candidate-sized spill-capable materialization —
    strictly less IO whenever candidates are a fraction of the corpus.
    Joins are not broadcast-pinned: AQE broadcasts the candidate side at
    test scale and falls back to shuffle joins when candidates outgrow it.

    A one-scan melt variant (explode pairs into sides, single join, regroup
    per pair) was A/B-measured and rejected: the per-pair regroup adds a
    shuffle and a broadcast barrier that cost more than the saved corpus
    probe, and unlike this shape it moves token arrays through an exchange.

    Returns (id_a, id_b, jaccard >= threshold)."""
    return _verify_pairs(
        pairs, df, id_col, tokens_col, "jaccard", jaccard_threshold,
        lambda inter, na, nb: inter.cast("double") / (na + nb - inter),
    )


def verify_containment(
    pairs: DataFrame,
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    containment_threshold: float,
) -> DataFrame:
    """Exact max-containment verification: C(a,b) = |A∩B| / min(|A|,|B|)
    >= threshold — the sub-document-duplication decision (a short quote
    embedded in a long doc scores high containment but LOW Jaccard, so a
    Jaccard cut would keep exactly the copies a contamination audit needs
    to find). Same one-scan shape as ``verify_jaccard``: checkpointed
    pairs, semi-pruned corpus scan, materialized once, two block probes.

    Returns (id_a, id_b, containment >= threshold)."""
    return _verify_pairs(
        pairs, df, id_col, tokens_col, "containment", containment_threshold,
        lambda inter, na, nb: inter.cast("double") / F.least(na, nb),
    )


def _verify_pairs(pairs, df, id_col, tokens_col, score_col, threshold, score):
    """The one-scan verification shape of ``verify_jaccard`` /
    ``verify_containment``: checkpoint the pairs, semi-join-prune the
    corpus to their members, materialize that once, probe it per side.
    ``score(|A∩B|, |A|, |B|)`` over distinct tokens is kept as
    ``score_col`` where it is >= ``threshold``."""
    p = pairs.localCheckpoint()
    ids = (
        p.select(F.col("id_a").alias("id"))
        .union(p.select(F.col("id_b").alias("id")))
        .distinct()
    )
    toks = (
        df.select(
            F.col(id_col).alias("id"),
            F.array_distinct(F.col(tokens_col)).alias("tok"),
        )
        .join(ids, "id", "left_semi")
        .localCheckpoint()
    )
    cand = (
        p.join(toks.select(F.col("id").alias("id_a"), F.col("tok").alias("tok_a")), "id_a")
        .join(toks.select(F.col("id").alias("id_b"), F.col("tok").alias("tok_b")), "id_b")
    )
    inter = F.size(F.array_intersect(F.col("tok_a"), F.col("tok_b")))
    return (
        cand.withColumn(score_col, score(inter, F.size("tok_a"), F.size("tok_b")))
        .filter(F.col(score_col) >= threshold)
        .select("id_a", "id_b", score_col)
    )


def incremental_lsh_pairs(
    all_docs: DataFrame,
    delta_pred,
    id_col: str,
    tokens_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    jaccard_threshold: float = 0.5,
    max_bucket: int | None = None,
    drop_observation=None,
) -> DataFrame:
    """Near-dup pairs INVOLVING a delta batch: delta x base and delta x
    delta, never base x base — the incremental posture that makes dedup
    affordable on a growing corpus (re-pairing 100 TB of settled base
    content per ingest batch is the naive-shape cost this avoids; work
    scales with |delta| x bucket density, not |corpus|²).

    ``delta_pred`` is a Column predicate over ``all_docs`` marking the new
    batch. Candidate generation is the SAME (band, bhash) bucket shuffle
    and in-bucket expansion as ``lsh_candidate_pairs`` — same recall
    argument — with a delta flag riding along and the "at least one side
    is delta" predicate applied inside the generating stage, so settled
    base x base pairs are never materialized. ``max_bucket`` /
    ``drop_observation`` are the same opt-in runaway guard as
    ``bucket_pairs`` (oversized buckets dropped, drops observed — never
    silent), so a pathological universal shingle can't expand
    quadratically here either. The streaming face
    (``streaming/incremental.py``) goes further: there the base bands are
    a PERSISTED parquet index, so base signatures are not even recomputed
    — this batch operator is the one-shot form over a combined scan.

    Returns (id_a, id_b, jaccard) with id_a < id_b, at least one side in
    the delta, jaccard >= threshold.
    """
    banded = minhash_band_table(all_docs, id_col, tokens_col, num_hashes, bands)
    flags = all_docs.select(
        F.col(id_col).alias("id"), delta_pred.cast("boolean").alias("is_d")
    )
    # One broadcast-joined delta flag per banded row, then the SAME
    # collect_list in-bucket expansion as bucket_pairs with the pair
    # predicate "at least one side is delta" applied inside the generating
    # stage. Deriving delta bands as a second reference to `banded` was
    # measured 1.7x SLOWER than full LSH at 10x data: each branch of a
    # self-referencing plan recomputes the whole signature pipeline, and
    # the extra band-table shuffle outweighed the skipped base pairs.
    # flags is corpus-sized — no broadcast pin; AQE picks broadcast at
    # test scale and sort-merge when the corpus outgrows it
    fb = banded.join(flags, "id")
    buckets = (
        fb.groupBy("band", "bhash")
        .agg(F.array_sort(F.collect_list(F.struct("id", "is_d"))).alias("ms"))
        .filter((F.size("ms") >= 2) & F.exists("ms", lambda m: m["is_d"]))
    )
    buckets = _drop_oversize(
        buckets, "ms", max_bucket, drop_observation,
        f"incremental_lsh_bucket_drops_{max_bucket}",
    )
    cand = _distinct_pairs(
        buckets, "ms", lambda m: m["id"], keep=lambda x, y: x["is_d"] | y["is_d"]
    )
    return verify_jaccard(cand, all_docs, id_col, tokens_col, jaccard_threshold)


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    chunk_bits: int = 16,
    hamming_max: int = 10,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """Near-duplicate pairs via SimHash chunk-banding + exact verification —
    the SimHash twin of ``lsh_candidate_pairs``, same scale shape.

    The 63-bit signature splits into ``ceil(63/chunk_bits)`` chunks; docs
    sharing any exact chunk value become candidates (equi-join on
    (chunk_idx, chunk_val) — by pigeonhole this finds every pair within
    hamming distance < n_chunks with certainty, and near-dups with high
    probability beyond). The hamming pre-filter (``bit_count(sig_a ^
    sig_b) <= hamming_max``) is applied INSIDE the in-bucket pair
    expression — the signature rides along in the collect_list, so
    far-apart candidates are shed in the same codegen stage that generates
    them and never reach a join or shuffle. Exact-Jaccard verification
    alone decides membership — the pre-filter only sheds work, so a loose
    ``hamming_max`` cannot change results, just cost.

    Tokenize-once: the DISTINCT-shingle table is materialized up front
    (eager localCheckpoint) and feeds both the signature aggregation and
    the Jaccard verification — one pass over the raw text instead of one
    per consumer. Signatures are therefore SET-SimHash (votes over
    distinct shingles, not the multiset); candidate recall vs the
    all-pairs ground truth was re-validated at 1.0 on all three fixture
    corpora under this formulation (28/28 at sf0.001, 25/25 at sf0.01,
    256/256 at sf0.1 — the set Jaccard the verifier computes is what the
    banding now approximates, which if anything aligns the two). At
    100 TB the materialized token table is the standard tokenize-once
    intermediate a production pipeline persists anyway; blocks spill to
    local disk.

    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold.
    """
    n_chunks = (63 + chunk_bits - 1) // chunk_bits
    mask = (1 << chunk_bits) - 1
    toks = df.select(
        F.col(id_col).alias("id"),
        F.array_distinct(F.col(tokens_col)).alias("tok"),
    ).localCheckpoint()
    sig = simhash_table(toks, "id", "tok")
    chunks = F.array(
        *[
            F.struct(
                F.lit(c).alias("chunk_idx"),
                F.shiftright("sig", c * chunk_bits)
                .bitwiseAND(F.lit(mask))
                .alias("chunk_val"),
            )
            for c in range(n_chunks)
        ]
    )
    banded = sig.select("id", "sig", F.explode(chunks).alias("cc")).select(
        "id", "sig", F.col("cc.chunk_idx").alias("chunk_idx"), F.col("cc.chunk_val").alias("chunk_val")
    )
    # array_sort on struct(id, sig) orders by id (first field), so pairs
    # come out id_a < id_b exactly as in bucket_pairs.
    buckets = (
        banded.groupBy("chunk_idx", "chunk_val")
        .agg(F.array_sort(F.collect_list(F.struct("id", "sig"))).alias("ms"))
        .filter(F.size("ms") >= 2)
    )
    # Filter BEFORE building pair structs: the hamming test is two long
    # ops per candidate, so shed pairs never pay the struct allocation
    # (the k^2/2 expansion is the bucket's dominant cost).
    close = _distinct_pairs(
        buckets,
        "ms",
        lambda m: m["id"],
        keep=lambda x, y: F.bit_count(x["sig"].bitwiseXOR(y["sig"])) <= F.lit(hamming_max),
    )
    return verify_jaccard(close, toks, "id", "tok", jaccard_threshold)


def two_stage_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    fingerprint_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    jaccard_threshold: float = 0.5,
    max_bucket: int | None = None,
    drop_observation=None,
) -> DataFrame:
    """Exact-dedup-first LSH: collapse exact duplicates (keep the min-id
    representative per fingerprint), then run MinHash-LSH over unique
    contents only.

    This is the production composition at scale: LSH's in-bucket pair
    expansion is quadratic in duplicate-group size (a content duplicated g
    times yields g²/2 pairs in EVERY band — measured 19× slowdown at 10×
    data with 10× duplication), while exact dedup is one linear shuffle.
    Collapsing first makes the LSH stage see each content once.
    ``max_bucket`` caps the residual pathology (near- but not exactly
    identical content at huge multiplicity) with observed drop counts —
    see ``bucket_pairs``.

    Returns (id_a, id_b, jaccard) among representatives.

    ``reps`` is localCheckpointed: the LSH stage references it twice (the
    signature/banding chain and the verify join-back), and as a derived
    self-reference each branch would otherwise replay the corpus scan +
    fingerprint window ([[self-referencing-plan-recompute]]; min-of-3 A/B
    at sf0.1: 2.71 s -> 2.29 s, outputs identical). The materialization
    is the collapsed-representative table — the exact artifact a
    production pipeline persists between the stages anyway.
    """
    reps = (
        exact_dedup(df, [fingerprint_col], [F.col(id_col)])
        .select(id_col, tokens_col)
        .localCheckpoint()
    )
    return lsh_candidate_pairs(
        reps,
        id_col,
        tokens_col,
        num_hashes=num_hashes,
        bands=bands,
        jaccard_threshold=jaccard_threshold,
        max_bucket=max_bucket,
        drop_observation=drop_observation,
    )

