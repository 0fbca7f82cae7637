"""Deduplication operators for training-data pipelines (north-star surface).

Strategies, all partition-parallel and shuffle-minimal:

  exact_dedup        hash-groupBy on a normalized fingerprint — one shuffle
  minhash_lsh_pairs  shingle → minhash → band-bucket join — candidate pairs
                     without the O(n²) cross join; exact-jaccard verify stage
  simhash_pairs      16/64-bit simhash, bucket by hash, optional hamming radius
  ngram_jaccard      exact jaccard between candidate pairs
  embedding_near_dup blocked cosine near-duplicate pairs over vectors
  dup_clusters       transitive dup groups (min-label connected components)
  canonical_docs     survivor selection: keep the best-quality member per cluster
  pack_sequences     token-budget batch assignment (sharded greedy fold)

Scale design: every candidate-generation step is a hash join on a derived
bucket key (band hash / simhash / blocking key), so the shuffle volume is
O(n · bands), never O(n²). The verify stage touches only candidate pairs.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from venice_spark.functions import text as TX
from venice_spark.functions import vectors as VX
from venice_spark.merge.dcr import keep_latest


def _spread(df: DataFrame, key: str) -> DataFrame:
    """Fan a narrow input out to the session's parallelism before a
    CPU-bound kernel. A small single-file corpus plans ONE scan task, so
    the md5/shingle digest chain serializes on one core while the rest
    idle (measured 4x wall on the minhash query at sf0.1). No-op — and
    critically, no shuffle — when the source already has enough partitions
    (the 100 TB case, where re-sharding would be a full-corpus shuffle)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target, F.col(key))


def _jaccard(sh_a: str, sh_b: str) -> F.Column:
    """Exact jaccard of two DISTINCT-element shingle arrays without
    building the union array: |a ∪ b| = |a| + |b| - |a ∩ b| holds exactly
    because TX.shingles is array_distinct'd (and the short-doc arm is a
    single element), so the division inputs are the same integers the
    size(array_union) form produced — identical doubles, oracle-checked.
    The intersection size is bound once (_bind: HOF/array subtrees get no
    CSE); the two array-length reads are O(1). Saves one hash-set pass +
    one union-array allocation per candidate pair — the per-pair kernel
    of every near-dup verify stage."""
    return TX._bind(
        F.size(F.array_intersect(sh_a, sh_b)),
        lambda inter: inter.cast("double")
        / (F.size(sh_a) + F.size(sh_b) - inter).cast("double"),
    )


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Groups of identical (normalized) documents: fingerprint, canonical id
    (min), duplicate count. Survivors = rows where id == canonical_id.

    No _spread here: the kernel is ONE digest per document, so the groupBy
    shuffle dominates and an extra fan-out stage only adds scheduling cost
    (measured 3x slower with it in a busy session)."""
    return (
        df.withColumn("fingerprint", TX.fingerprint(text_col))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count("*").alias("dup_count"),
        )
    )


def minhash_signatures(
    df: DataFrame, text_col: str, id_col: str, num_hashes: int = 16, shingle_n: int = 3
) -> DataFrame:
    hs = df.select(
        F.col(id_col),
        TX.shingle_hashes(TX.shingles(text_col, shingle_n), num_hashes).alias("__hs"),
    )
    return hs.select(F.col(id_col), *TX.minhash_from_hashes(F.col("__hs"), num_hashes))


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    shingle_n: int = 3,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """MinHash+LSH near-duplicate pairs: signature → band rows → self-join on
    (band_idx, band_hash) → exact jaccard ≥ threshold.

    The band join is the scale path: each doc emits `bands` rows; identical
    band hashes collide in the shuffle, so candidate generation is linear in
    data + collisions.

    max_bucket_size caps the collision blowup: a band bucket of b docs emits
    b² candidate pairs, so one degenerate bucket (boilerplate corpus, empty
    docs) can dominate the whole job. Buckets over the cap are dropped from
    CANDIDATE GENERATION only — their members are near-exact duplicates by
    construction (identical on a full band) and belong to exact/fingerprint
    dedup, the standard split in production near-dup pipelines. Default None
    keeps the exhaustive behavior the oracle checks."""
    _check_band_params(num_hashes, bands)
    # Materialize shingles + signatures once: without a barrier the band
    # self-join and the verify joins each re-derive the full md5/minhash
    # expression chain (measured 20x slower at sf0.1). At cluster scale these
    # persists become checkpoint tables. The persists are function-local:
    # the (small) pair result is eagerly localCheckpoint-ed below and every
    # intermediate is unpersisted before returning, so a long-lived session
    # running many dedup queries accumulates no cached plans (VERDICT r2 #4).
    sh = _spread(df, id_col).select(
        F.col(id_col),
        TX.shingles(text_col, shingle_n).alias("sh"),
    ).persist()
    # hash material computed once per shingle (4 digests -> 16 windows),
    # persisted so the 16 per-window mins don't re-derive the md5 chain
    hs = sh.select(
        F.col(id_col), TX.shingle_hashes(F.col("sh"), num_hashes).alias("__hs")
    ).persist()
    sigs = hs.select(F.col(id_col), *TX.minhash_from_hashes(F.col("__hs"), num_hashes))
    # the SHARED band-row derivation (_band_rows, also behind
    # minhash_band_table / minhash_pairs_vs_history): batch and incremental
    # LSH must hash bands identically or they silently stop finding each
    # other's near-duplicates (code-review r4 deduplicated an inline copy)
    exploded = _band_rows(sigs, id_col, num_hashes, bands).persist()
    all_bands = exploded
    if max_bucket_size is not None:
        # one aggregate over the band rows; the anti-join side (oversized
        # buckets) is tiny by construction and broadcasts
        big = (
            exploded.groupBy("band_idx", "h")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > max_bucket_size)
            .select("band_idx", "h")
        )
        exploded = exploded.join(
            F.broadcast(big), ["band_idx", "h"], "left_anti"
        ).persist()

    # Candidate generation stays the (band_idx, h) SELF-JOIN over the
    # persisted band rows. The r10 optimization pass A/B-tested the
    # one-exchange alternative (groupBy bucket + collect_list + row-local
    # pair expansion): it was 1.7x SLOWER at sf0.1 — collect_list forces a
    # non-codegen ObjectHashAggregate with object serialization between
    # partial and final aggregation, losing more than the saved exchange
    # of skinny (id, band, hash) rows (guide §1.1: the "ideal" plan lost
    # to the gotcha; measured, reverted).
    a = exploded.alias("a")
    b_ = exploded.alias("b")
    cands = (
        a.join(
            b_,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.h") == F.col("b.h"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )

    j = (
        cands.join(sh.withColumnsRenamed({id_col: "id_a", "sh": "sh_a"}), "id_a")
        .join(sh.withColumnsRenamed({id_col: "id_b", "sh": "sh_b"}), "id_b")
        .withColumn("jaccard", _jaccard("sh_a", "sh_b"))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    # Eagerly materialize the pair set (tiny vs the corpus), then release the
    # cached intermediates. localCheckpoint blocks are RDD-scoped and
    # reclaimed by the ContextCleaner when the result is dropped, unlike
    # CacheManager entries which live until an explicit unpersist.
    out = j.localCheckpoint(eager=True)
    for d in (sh, hs, all_bands, exploded):
        d.unpersist()
    return out


def _check_band_params(num_hashes: int, bands: int) -> None:
    """bands > num_hashes would make every band hash the empty string — ALL
    docs collide and the band join degenerates to the O(n²) cross product the
    banding exists to avoid; a non-divisor silently ignores trailing hashes
    (quietly lower recall). Every band-row entry point shares this guard."""
    if not (1 <= bands <= num_hashes) or num_hashes % bands != 0:
        raise ValueError(
            f"bands must divide num_hashes (got bands={bands}, num_hashes={num_hashes})"
        )


# band-table metadata columns carrying the index parameters; probes assert
# parity against them before joining (a silent mismatch = silent recall loss)
_BAND_PARAM_COLS = ("num_hashes", "bands", "shingle_n")


def _band_rows(
    sigs: DataFrame, id_col: str, num_hashes: int, bands: int
) -> DataFrame:
    _check_band_params(num_hashes, bands)
    rows_per_band = num_hashes // bands
    band_cols = []
    for b in range(bands):
        cols = [F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_cols.append(
            F.struct(
                F.lit(b).alias("band_idx"),
                F.concat_ws(":", *[c.cast("string") for c in cols]).alias("h"),
            )
        )
    return sigs.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("band")
    ).select(id_col, "band.band_idx", "band.h")


def minhash_band_table(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """The persistent LSH index of a corpus: (id, band_idx, band_hash) rows
    — `bands` small rows per document. Store this once (partitioned or
    bucketed by (band_idx, h) at scale) and every future ingest batch
    probes near-duplicates against history WITHOUT recomputing historical
    signatures: the md5/minhash chain runs once per document ever.

    The index parameters (num_hashes, bands, shingle_n) ride along as
    constant columns — parquet dictionary/RLE encodes them to nothing, and
    minhash_pairs_vs_history asserts probe/index parity against them before
    joining (a probe built with different parameters silently misses
    near-duplicates otherwise)."""
    sigs = minhash_signatures(df, text_col, id_col, num_hashes, shingle_n)
    rows = _band_rows(sigs, id_col, num_hashes, bands)
    return (
        rows.withColumn("num_hashes", F.lit(num_hashes))
        .withColumn("bands", F.lit(bands))
        .withColumn("shingle_n", F.lit(shingle_n))
    )


def minhash_pairs_vs_history(
    new_df: DataFrame,
    history_bands: DataFrame,
    history_docs: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    shingle_n: int = 3,
    check_params: bool = True,
) -> DataFrame:
    """Near-duplicate pairs of a NEW ingest batch against an indexed
    historical corpus — the incremental edition of minhash_lsh_pairs for
    daily-crawl pipelines: candidates come from the new batch's band rows
    joined to the stored band table (shuffle is batch-sized, history is
    probed not scanned), then exact-jaccard verification re-shingles ONLY
    the matched historical documents (semi-join on candidate ids), never
    the whole history. Returns [new_id, hist_id, jaccard].

    If `history_bands` carries the index-parameter columns written by
    minhash_band_table, the probe's (num_hashes, bands, shingle_n) are
    asserted against them — different parameters yield disjoint band hashes,
    so a mismatch would silently report zero near-duplicates.

    `check_params=False` skips that eager `.first()` job (it runs per probe
    call — per micro-batch under streaming ingest) for callers that already
    DERIVED the probe parameters from the index's sidecar spec, where the
    check is redundant by construction (engine.near_dups_vs; ADVICE r4).
    The param columns are still dropped either way."""
    _check_band_params(num_hashes, bands)
    expected = {"num_hashes": num_hashes, "bands": bands, "shingle_n": shingle_n}
    param_cols = [c for c in _BAND_PARAM_COLS if c in history_bands.columns]
    if param_cols and not check_params:
        history_bands = history_bands.drop(*param_cols)
        param_cols = []
    if param_cols:
        # constant columns: one row (a single row-group read) settles parity
        row = history_bands.select(*param_cols).first()
        if row is not None:
            mismatch = {
                c: (row[c], expected[c]) for c in param_cols if row[c] != expected[c]
            }
            if mismatch:
                raise ValueError(
                    "minhash index/probe parameter mismatch (index, probe): "
                    f"{mismatch} — probe with the parameters the band table "
                    "was built with, or rebuild the index"
                )
        history_bands = history_bands.drop(*param_cols)
    new_sh = _spread(new_df, id_col).select(
        F.col(id_col), TX.shingles(text_col, shingle_n).alias("sh")
    ).persist()
    new_sigs = new_sh.select(
        F.col(id_col),
        *TX.minhash_from_hashes(
            TX.shingle_hashes(F.col("sh"), num_hashes), num_hashes
        ),
    )
    new_bands = _band_rows(new_sigs, id_col, num_hashes, bands)
    hist = history_bands.select(
        F.col(id_col).alias("hist_id"), "band_idx", "h"
    )
    cands = (
        new_bands.join(hist, ["band_idx", "h"])
        .select(F.col(id_col).alias("new_id"), "hist_id")
        .distinct()
    )
    hist_matched = history_docs.select(
        F.col(id_col).alias("hist_id"), F.col(text_col).alias("__ht")
    ).join(cands.select("hist_id").distinct(), "hist_id")
    hist_sh = hist_matched.select(
        "hist_id", TX.shingles(F.col("__ht"), shingle_n).alias("sh_b")
    )
    out = (
        cands.join(
            new_sh.select(F.col(id_col).alias("new_id"), F.col("sh").alias("sh_a")),
            "new_id",
        )
        .join(hist_sh, "hist_id")
        .withColumn("jaccard", _jaccard("sh_a", "sh_b"))
        .filter(F.col("jaccard") >= threshold)
        .select("new_id", "hist_id", "jaccard")
        .localCheckpoint(eager=True)
    )
    new_sh.unpersist()
    return out


def ngram_jaccard(
    pairs: DataFrame, docs: DataFrame, text_col: str, id_col: str, shingle_n: int = 3
) -> DataFrame:
    """Exact token-n-gram jaccard for candidate pairs: `pairs` carries
    (id_a, id_b) — from LSH, simhash blocking, or any blocking scheme —
    and `docs` the corpus. Two hash joins against the shingled corpus,
    verify math on candidates only."""
    sh = docs.select(
        F.col(id_col), TX.shingles(text_col, shingle_n).alias("__sh")
    )
    return (
        pairs.join(
            sh.withColumnsRenamed({id_col: "id_a", "__sh": "sh_a"}), "id_a"
        )
        .join(sh.withColumnsRenamed({id_col: "id_b", "__sh": "sh_b"}), "id_b")
        .withColumn("jaccard", _jaccard("sh_a", "sh_b"))
        .select("id_a", "id_b", "jaccard")
    )


def simhash_buckets(df: DataFrame, text_col: str, id_col: str, bits: int = 16) -> DataFrame:
    """SimHash per doc; identical hashes = near-dup candidates (hamming-0).
    For hamming ≤ k, re-join on hash with masked bit groups."""
    return df.select(F.col(id_col), TX.simhash(text_col, bits).alias("simhash"))


def embedding_near_dup_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    block_col: str,
    threshold: float = 0.99,
) -> DataFrame:
    """Cosine near-duplicate pairs within blocking buckets — the O(n²/buckets)
    verified stage of embedding dedup. Block on a cheap key (cluster id,
    label, LSH bucket); at 100 TB the block key IS the LSH bucket."""
    v = df.select(
        F.col(id_col), F.col(block_col).alias("blk"), F.col(vec_col).alias("v"),
        F.sqrt(VX.squared_l2_norm(vec_col)).alias("nrm"),
    )
    a, b = v.alias("a"), v.alias("b")
    dot = VX.dot_product(F.col("a.v"), F.col("b.v"))
    return (
        a.join(b, (F.col("a.blk") == F.col("b.blk")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        # zero-norm guard: 0/0 under default ANSI mode is a job-aborting
        # DIVIDE_BY_ZERO, not NaN (code-review r4); undefined cosine -> NULL,
        # which the threshold filter below drops
        .withColumn(
            "cos",
            F.when(
                (F.col("a.nrm") > 0) & (F.col("b.nrm") > 0),
                dot / (F.col("a.nrm") * F.col("b.nrm")),
            ),
        )
        # NaN guard: a NaN vector component makes cos NaN, and Spark orders
        # NaN ABOVE every number, so `cos >= threshold` would pair the bad
        # row with its whole block (and semantic_dedup would then delete
        # those docs as losers) — cosine is undefined there, exclude it
        .filter(~F.isnan(F.col("cos")) & (F.col("cos") >= threshold))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            "cos",
        )
    )


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_tokens: int = 128,
    stride: int | None = None,
    min_chunk_tokens: int = 1,
) -> DataFrame:
    """Split long documents into fixed-budget training sequences: token
    windows of `max_tokens`, advancing by `stride` (default = max_tokens,
    i.e. disjoint chunks; smaller stride = overlapping context windows).
    The last partial chunk survives iff it has >= min_chunk_tokens tokens.
    Output: [id_col, chunk_idx, chunk_text, chunk_tokens] — one row per
    chunk, ordered by chunk_idx within each doc.

    Pure per-row expressions (sequence → transform → slice → filter →
    posexplode): zero shuffle, embarrassingly parallel — a 100 TB corpus
    chunks at scan speed. The complement of pack_sequences (which BATCHES
    short docs up to a budget; this SPLITS long docs down to one)."""
    w, s = int(max_tokens), int(stride or max_tokens)
    if s <= 0 or w <= 0:
        raise ValueError("max_tokens and stride must be positive")
    toks = df.withColumn("__t", TX.tokens(text_col)).withColumn(
        "__n", F.size("__t")
    )
    # chunk start positions: 0, s, 2s, ... while start < n (at least one)
    starts = F.expr(f"sequence(0, greatest(__n - 1, 0), {s})")
    chunks = F.filter(
        F.transform(
            starts,
            lambda st: F.struct(
                F.slice("__t", st + 1, w).alias("ct"),
                F.least(F.lit(w), F.col("__n") - st).alias("cn"),
            ),
        ),
        lambda c: c["cn"] >= min_chunk_tokens,
    )
    return (
        toks.select(
            F.col(id_col),
            F.posexplode(chunks).alias("chunk_idx", "__c"),
        )
        .select(
            id_col,
            "chunk_idx",
            F.array_join(F.col("__c.ct"), " ").alias("chunk_text"),
            F.col("__c.cn").alias("chunk_tokens"),
        )
    )


def pack_sequences(
    df: DataFrame,
    token_col: str,
    id_col: str,
    budget: int,
    n_shards: int = 32,
    seed: int | None = None,
) -> DataFrame:
    """Sequence packing for training batches: assign documents to packs of
    at most `budget` total tokens (greedy close-on-overflow in (shard, id)
    order — a pack NEVER exceeds the budget unless a single document alone
    does, in which case that document gets a pack of its own). Output adds
    `shard` and `pack_id`; (shard, pack_id) is the batch key.

    Greedy packing is a data-dependent recurrence (each close decision
    depends on the previous fill), which no window fold expresses — a
    prefix-sum bucketing looks close but lets packs overshoot the budget
    whenever a document straddles a boundary, breaking loaders that size
    buffers to `budget`. So: shard first (hash of id — the ONE shuffle),
    then run the trivial per-shard fold in an Arrow-batched applyInPandas;
    shards are independent, so parallelism is n_shards regardless of
    corpus size. The DuckDB oracle re-derives the identical recurrence
    with a recursive CTE."""
    from pyspark.sql import types as T

    # md5-based shard (portable construction — same math runs in any SQL
    # engine for oracle parity; xxhash64 would be marginally cheaper).
    # `seed` salts the hash for epoch reshuffles; None keeps the unsalted
    # historical construction the DuckDB oracle re-derives.
    skey = F.col(id_col).cast("string")
    if seed is not None:
        skey = F.concat(F.lit(f"{seed}:"), skey)
    shard = F.pmod(
        F.conv(F.substring(F.md5(skey), 1, 8), 16, 10).cast("bigint"),
        F.lit(n_shards),
    ).cast("int")
    # a NULL token count surfaces as NaN in the Arrow batch and int(NaN)
    # would abort the whole packing job (code-review r4); a doc with no
    # token accounting cannot be budgeted, so it is excluded up front
    with_shard = df.filter(F.col(token_col).isNotNull()).withColumn("shard", shard)
    out_schema = T.StructType(
        list(with_shard.schema.fields) + [T.StructField("pack_id", T.LongType())]
    )

    def _pack(pdf):
        pdf = pdf.sort_values(id_col, kind="mergesort")
        packs = []
        pack, fill = 0, 0
        for n in pdf[token_col]:
            n = int(n)
            if fill > 0 and fill + n > budget:
                pack += 1
                fill = 0
            fill += n
            packs.append(pack)
        pdf = pdf.copy()
        pdf["pack_id"] = packs
        return pdf

    return with_shard.groupBy("shard").applyInPandas(_pack, schema=out_schema)


def simhash_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    bits: int = 16,
    max_hamming: int = 3,
    groups: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """SimHash near-dup pairs within a hamming radius. Pigeonhole blocking:
    split the hash into `groups` bit-groups; any pair within hamming ≤
    groups-1 shares at least one exact group, so candidates come from
    `groups` hash-joins on (group_idx, group_bits) — never a cross join.
    Verify = bit_count(xor) ≤ max_hamming. Requires max_hamming < groups.

    max_bucket_size drops oversized bit-group buckets from candidate
    generation (see minhash_lsh_pairs — same degenerate-corpus bound, same
    exact-dedup escape hatch for the dropped members)."""
    sh = _spread(df, id_col).select(
        F.col(id_col), TX.simhash(text_col, bits).alias("sh")
    )
    return hash_hamming_pairs(
        sh, "sh", id_col,
        bits=bits, max_hamming=max_hamming, groups=groups,
        max_bucket_size=max_bucket_size,
    )


def hash_hamming_pairs(
    hashes: DataFrame,
    hash_col: str,
    id_col: str,
    bits: int = 64,
    max_hamming: int = 3,
    groups: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dup pairs within a hamming radius over a PRECOMPUTED integer
    signature column (simhash, frame aHash, any ≤64-bit hash) — the
    pigeonhole bit-group blocking core shared by simhash_pairs and
    frame-level dedup. Split the signature into `groups` bit-groups; any
    pair within hamming ≤ groups-1 shares at least one exact group, so
    candidates come from `groups` hash-joins on (group_idx, group_bits) —
    never a cross join. Verify = bit_count(xor) ≤ max_hamming. Returns
    [id_a, id_b, hamming] with id_a < id_b."""
    if max_hamming >= groups:
        raise ValueError("pigeonhole blocking needs max_hamming < groups")
    if groups > bits:
        raise ValueError(f"groups must be <= bits (got bits={bits}, groups={groups})")
    # the groups must partition ALL `bits` (pigeonhole only counts covered
    # positions), so a non-dividing remainder widens the LAST group rather
    # than leaving top bits outside every block
    width = bits // groups
    sh = hashes.select(F.col(id_col), F.col(hash_col).alias("sh")).persist()
    gcols = []
    for g in range(groups):
        gwidth = width if g < groups - 1 else bits - (groups - 1) * width
        gb = F.shiftright(F.col("sh"), g * width)
        if gwidth < 64:  # a 64-wide mask overflows a signed long; it's a no-op
            gb = gb.bitwiseAND(F.lit((1 << gwidth) - 1))
        gcols.append(F.struct(F.lit(g).alias("g"), gb.alias("gb")))
    blocks = sh.select(
        F.col(id_col), F.col("sh"), F.explode(F.array(*gcols)).alias("blk")
    ).select(id_col, "sh", "blk.g", "blk.gb")
    if max_bucket_size is not None:
        big = (
            blocks.groupBy("g", "gb")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > max_bucket_size)
            .select("g", "gb")
        )
        blocks = blocks.join(F.broadcast(big), ["g", "gb"], "left_anti")
    a, b = blocks.alias("a"), blocks.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.gb") == F.col("b.gb"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh"))).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )
    # materialize candidates, then drop the cached signature table (see
    # minhash_lsh_pairs for the lifecycle rationale)
    out = pairs.localCheckpoint(eager=True)
    sh.unpersist()
    return out


def fuzzy_key_pairs(
    df: DataFrame,
    key_col: str,
    id_col: str,
    max_subs: int = 1,
) -> DataFrame:
    """Entity-resolution candidate pairs: equal-length keys within
    `max_subs` character SUBSTITUTIONS (hamming distance) — near-identical
    identifiers/names differing by typos or digit slips.

    Blocking is the WILDCARD (position-mask) scheme: every key emits one
    variant per choice of d positions replaced by a sentinel; two
    equal-length keys within distance d share the variant that masks
    exactly their differing positions, so a hash join on the variant finds
    every true pair. Crucially the bucket sizes are bounded by the number
    of keys one substitution apart at a FIXED position — tiny on real key
    distributions — unlike contiguous-segment (PassJoin-style) blocking,
    which degenerates quadratically when keys share a long common prefix
    (measured: customer names all share 'Customer#', making one segment
    bucket hold the entire table). Emission is O(u·len) rows for d=1 and
    O(u·len²/2) for d=2 (supported depths) where u = DISTINCT keys; the
    hamming verify runs on candidates only.

    Duplicated keys never inflate the candidate stage: blocking runs over
    the distinct-key table, and id-level pairs are expanded from the
    key-level matches afterwards — joins sized by the OUTPUT, not by
    (family size)² × masks. Without this, a corpus where each key repeats
    f times re-derives every intra-family pair once per mask position
    (measured on the 16× scale probe: 94 s → the pre-distinct candidate
    stream was ~69 M rows for 1.8 M true pairs; collapsed: the candidate
    stream is replication-invariant). Returns [id_a, id_b, dist] with
    id_a < id_b."""
    d = int(max_subs)
    if d not in (1, 2):
        raise ValueError("fuzzy_key_pairs supports max_subs 1 or 2")
    # members feeds FOUR downstream consumers (ma, mb, both sides of the
    # same-key self-join) and base feeds both sides of the blocked
    # candidate join: left lazy, each consumer re-ran the corpus scan and
    # the distinct shuffle from scratch — the r10 before-plan showed SIX
    # independent Scan+Exchange+HashAggregate(distinct) subtrees for ONE
    # input (guide §2.4: remove shuffles outright). Eager localCheckpoints
    # materialize each distinct once; blocks are RDD-scoped and reclaimed
    # by the ContextCleaner when the result is dropped (the minhash
    # discipline), so a long session accumulates no cached plans.
    members = (
        df.select(F.col(id_col).alias("__id"), F.col(key_col).alias("__k"))
        .distinct()  # exact duplicate (id, key) rows must not duplicate pairs
        .localCheckpoint(eager=True)
    )
    base = (
        members.select("__k")
        .distinct()
        .select("__k", F.length("__k").alias("__len"))
        .localCheckpoint(eager=True)
    )
    # _spread BEFORE the explode+hash (r11): AQE coalesces the distinct
    # above to ONE partition at probe scale (240k keys ≈ 5 MB < the 64 MB
    # advisory size), so the O(n·len^d) block-table build — and every
    # downstream stage fed by its checkpoint — ran in a single task
    # (measured at the 16× probe: the whole block join was core-count
    # FLAT, 29 s at 8 and at 32 cores). Shuffling the n-row key table is
    # ~1000× cheaper than serializing the n·len-row compute; at real
    # scale the distinct output already has enough partitions and _spread
    # no-ops (guide §2.2 — scale-adaptive, not a local[32] constant).
    base = _spread(base, "__k")
    # Block key = 64-bit hash of (len, mask positions, unmasked PARTS) — the
    # masked-variant STRING is never built (r11; guide §1.2). Two keys share
    # a masked variant at positions (i[, j]) iff their (len, i[, j], parts)
    # tuples are equal, so the candidate set is the wildcard scheme's
    # exactly; the per-variant concat + chr(0) allocation the old form paid
    # (len^d string builds per key) is gone, and the exchange still carries
    # only the 8-byte hash. A hash collision can only ADD a candidate pair,
    # and the exact hamming verify below keeps a colliding pair iff it is a
    # true pair (the equal-length guard rides in the hash via __len plus
    # the verify's length check) — output is identical. Interleaved A/B at
    # sf0.1: 0.86x alone, 0.84x with the checkpoint below; oracle exact
    # (262 500 pairs).
    if d == 1:
        blocked = base.select(
            "__k",
            "__len",
            F.explode(F.expr("sequence(1, greatest(__len, 1))")).alias("__i"),
        ).select(
            "__k",
            "__len",
            F.xxhash64(
                "__len",
                "__i",
                F.expr("substring(__k, 1, __i - 1)"),
                F.expr("substring(__k, __i + 1, __len)"),
            ).alias("__block"),
        )
    else:
        ij = F.expr(
            "flatten(transform(sequence(1, greatest(__len, 1)), i -> "
            "transform(sequence(least(i + 1, __len + 1), __len + 1), j -> "
            "struct(i AS i, j AS j))))"
        )
        # j == __len + 1 is the mask-only-i row (second part runs to the key
        # end, third part is empty) — same variant family as the old concat
        # form's CASE arm, so hamming-1 pairs keep their candidate.
        blocked = base.select(
            "__k", "__len", F.explode(ij).alias("__ij")
        ).select(
            "__k",
            "__len",
            F.xxhash64(
                "__len",
                "__ij.i",
                "__ij.j",
                F.expr("substring(__k, 1, __ij.i - 1)"),
                F.expr("substring(__k, __ij.i + 1, __ij.j - __ij.i - 1)"),
                F.expr("substring(__k, __ij.j + 1, __len)"),
            ).alias("__block"),
        )
    # materialize the exploded block table ONCE (r11): the self-join's two
    # sides otherwise each re-run the Generate + substring + xxhash pass
    # over O(n·len^d) rows (guide §2.4). ~24 B/row narrow rows, RDD-scoped
    # blocks reclaimed like members/base above. Interleaved A/B: 0.97x on
    # top of the parts-hash; med 0.73x combined vs the r10 form.
    blocked = blocked.localCheckpoint(eager=True)
    a = blocked.select(F.col("__k").alias("ka"), F.col("__len").alias("__la"), "__block")
    b = blocked.select(F.col("__k").alias("kb"), F.col("__len").alias("__lb"), "__block")
    key_cand = (
        a.join(b, "__block")
        .filter((F.col("ka") < F.col("kb")) & (F.col("__la") == F.col("__lb")))
        .select("ka", "kb")
    )
    if d != 1:
        # d=2: a hamming-1 pair shares ~len masked variants, so the
        # candidate stream carries ~len duplicates per such pair — the
        # distinct is load-bearing. At d=1 a true pair shares EXACTLY one
        # variant (the one masking its single differing position), so
        # every candidate row is already unique (modulo ~n²/2⁶⁵ hash
        # collisions, which the final groupBy(id_a,id_b).min collapses)
        # and the distinct was a full exchange + hash-agg of the whole
        # verified-pair stream deduping nothing (guide §2.4 "a distinct
        # on data that is already unique" — measured 262.5k in, 262.5k
        # out at sf0.1; removing it: 0.84x interleaved).
        key_cand = key_cand.distinct()
    # No repartition after the distinct (r10): Catalyst pushes the
    # deterministic dist filter below the distinct INTO the block join
    # (the executed plan shows the levenshtein threshold as a join
    # condition), so the expensive verify already runs at the join's full
    # parallelism and the post-distinct work is one projection per
    # surviving pair — the former "restore parallelism" exchange (added
    # when the verify still ran post-distinct) bought a whole extra
    # stage for nothing.
    if d == 1:
        # equal-length strings: hamming <= 1 <=> levenshtein <= 1 (an
        # insert+delete pair costs 2, so a lev-1 edit must be one
        # substitution). The builtin runs in codegen with an early-exit
        # threshold — ~20x the per-character lambda below (which allocates
        # per element; measured 6s+ on 262k candidates). Threshold form
        # returns -1 when the distance exceeds 1, and ka < kb rules out
        # distance 0, so the whole predicate is ONE comparison: == 1.
        # Writing it as (dist > 0 AND dist <= 1) on a projected column had
        # Catalyst duplicating the levenshtein into the join condition
        # TWICE plus once in the projection (no CSE across the pushed
        # predicate) — and every survivor's distance is 1 by construction,
        # so the output column is a literal, not a third evaluation.
        key_pairs = key_cand.filter(
            F.levenshtein(F.col("ka"), F.col("kb"), 1) == 1
        ).withColumn("dist", F.lit(1))
    else:
        # true hamming: lev <= 2 admits equal-length transposition shapes
        # with hamming 3, so count differing positions exactly — one
        # filter lambda (2 substring calls per element), not the
        # transform+zip_with+aggregate chain (4 allocations per element)
        dist = F.size(
            F.filter(
                F.sequence(F.lit(1), F.length("ka")),
                lambda i: F.col("ka").substr(i, F.lit(1)) != F.col("kb").substr(i, F.lit(1)),
            )
        )
        key_pairs = (
            key_cand.withColumn("dist", dist)
            .filter((F.col("dist") > 0) & (F.col("dist") <= d))
        )
    # expand key-level matches to id-level pairs (joins sized by the
    # output): cross-key matches take every member combination; same-key
    # (dist 0) pairs are the within-family self-join
    ma = members.select(F.col("__k").alias("ka"), F.col("__id").alias("__ida"))
    mb = members.select(F.col("__k").alias("kb"), F.col("__id").alias("__idb"))
    cross = (
        key_pairs.join(ma, "ka")
        .join(mb, "kb")
        # an id can hold BOTH keys of a fuzzy pair (non-unique id column);
        # least/greatest would emit it as a self-pair — keep strict pairs
        .filter(F.col("__ida") != F.col("__idb"))
        .select(
            F.least("__ida", "__idb").alias("id_a"),
            F.greatest("__ida", "__idb").alias("id_b"),
            "dist",
        )
        # no .distinct() here (r10): the final groupBy(id_a, id_b).min(dist)
        # already collapses duplicate triples — the per-branch distinct was
        # a full extra exchange of the same rows for an aggregation the
        # tail performs anyway (min over a multiset == min over its set)
    )
    same = (
        members.alias("x")
        .join(members.alias("y"), "__k")
        .filter(F.col("x.__id") < F.col("y.__id"))
        .select(
            F.col("x.__id").alias("id_a"),
            F.col("y.__id").alias("id_b"),
            F.lit(0).alias("dist"),
        )
    )
    # ONE row per unordered pair at its MINIMUM distance: with a non-unique
    # id column one id can hold several keys, so the same (id_a, id_b) can
    # surface from both branches (dist 0 via a shared key AND dist 1 via a
    # fuzzy one) or twice within `cross` at different distances — the
    # per-branch distincts cannot see across (code-review r4)
    return (
        cross.unionByName(same)
        .groupBy("id_a", "id_b")
        .agg(F.min("dist").alias("dist"))
    )


def exact_dedup_incremental(
    new_df: DataFrame,
    history_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    history_fp_col: str | None = None,
) -> DataFrame:
    """Dedup a new ingest batch against an already-ingested corpus — the
    daily-crawl shape: today's documents must not duplicate anything in the
    historical store. Two stages, both bounded by the NEW batch's size on
    the probe side:

      1. in-batch exact dedup (lowest id wins — same rule as exact_dedup);
      2. anti-join on the 16-byte content fingerprint against history.

    `history_df` is either the raw historical corpus (fingerprints computed
    on the fly) or, far cheaper at 100 TB, a precomputed fingerprint table
    (pass its column name as `history_fp_col`) — one 16-byte digest per
    historical doc, the moral equivalent of the store's key index; at scale
    keep it bucketed by fingerprint so this anti-join is co-located and the
    history is never re-scanned per batch."""
    fp = TX.fingerprint(F.col(text_col))
    in_batch = keep_latest(new_df, [fp], [F.col(id_col).asc()])
    if history_fp_col is not None:
        hist = history_df.select(F.col(history_fp_col).alias("__fp"))
    else:
        hist = history_df.select(TX.fingerprint(F.col(text_col)).alias("__fp"))
    return (
        in_batch.withColumn("__fp", fp)
        .join(hist, "__fp", "left_anti")
        .drop("__fp")
    )


def dup_ngram_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 20,
    min_count: int = 2,
    hash_windows: bool = True,
) -> DataFrame:
    """ExactSubstr-style dedup at token-window granularity (Lee et al.,
    "Deduplicating Training Data Makes Language Models Better"): find every
    `window`-token span whose content occurs >= min_count times corpus-wide
    and report, per document, the merged-interval token coverage of those
    duplicated spans.

    Returns [id_col, n_tokens, dup_starts (sorted window start positions,
    0-based), covered (tokens under at least one duplicated span),
    dup_ngram_frac]. Documents with no duplicated span get covered=0.

    Plan shape for 100 TB: the window explode (≈ tokens/doc rows) is
    hash-keyed — with hash_windows=True each window shuffles as ONE LONG
    (xxhash64), not its text, so candidate counting is a partial-agg count
    on 8-byte keys; the duplicated-key set joins back to the exploded
    frame, and per-doc interval merging is a row-local sorted fold (no
    second pass). The paper's suffix array is global state Spark can't
    shard cheaply; fixed-width windows give the same cross-document
    repeated-span signal with nothing but groupBy machinery.
    hash_windows=False keeps the window text as the key (engine-portable,
    collision-free — what the DuckDB oracle re-derives; 64-bit collisions
    at corpus scale are ~n²/2^65, acceptable for the hashed fast path)."""
    w = int(window)
    # wins feeds BOTH the candidate count and the hits join (and toks the
    # n_tokens report) — materialize the hashed window base once so the
    # tokenize+hash subtree runs one corpus pass instead of three
    toks, wins = _token_windows(
        df, text_col, id_col, w, hash_windows, materialize=hash_windows
    )
    dup = (
        wins.groupBy("win")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= min_count)
        .select("win")
    )
    hits = wins.join(dup, "win")
    return _span_report(toks, hits, id_col, w, "dup_starts", "dup_ngram_frac")


def _token_windows(
    df: DataFrame,
    text_col: str,
    id_col: str,
    w: int,
    hash_windows: bool,
    materialize: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Shared window-explode for span operators: returns (toks, wins) with
    toks = [id, ..., n] and wins = [id, pos, win] — one row per w-token
    window, keyed by window text or (hash_windows) a hash of it, so
    candidate counting shuffles 8-byte longs instead of span text.

    hash_windows keys each window as xxhash64 over the SLICE OF PER-TOKEN
    xxhash64s, not over the concatenated window text: each token is hashed
    once per doc instead of copied into w window strings, and per window
    the engine slices w longs and hashes 8w bytes instead of building a
    ~6w-char UTF8String from w string objects. Same equivalence classes —
    whitespace tokens contain no spaces, so concat_ws(' ') was injective
    on the token sequence, and so is the token-hash slice (up to the same
    ~n²/2^65 collision class); the key never reaches any output. Measured
    0.67x on x_dup_ngram_spans (interleaved min 2.20 → 1.47 s, exact
    output parity). The token-hash array is bound ONCE via the
    transform-over-singleton trick — referencing it straight from the
    window lambda would re-hash every token per window (no CSE in HOFs).

    materialize (hashed path only): eagerly localCheckpoint the per-doc
    (id, n, window-key array) base BEFORE the explode, for callers that
    consume `wins` more than once (dup_ngram_spans reads it in both the
    candidate-count branch and the hits join, plus `toks` for n_tokens —
    three tokenize+hash passes over the corpus without the checkpoint).
    The block is ~8 bytes/token (smaller than the corpus text and the
    same order as ONE of the win-key shuffles it feeds); RDD-scoped, so
    ContextCleaner reclaims it. Single-consumer callers (decontaminate's
    train side) must keep materialize=False — a blocking materialization
    only pays when it removes re-evaluation (the tfidf lesson,
    pipeline.py:611). The string-key path never materializes: window
    STRINGS are ~6w chars per token position, w× the corpus."""
    toks = df.select(
        F.col(id_col),
        TX.tokens(text_col).alias("t"),
    ).withColumn("n", F.size("t"))
    if hash_windows:
        win_arr = (
            "element_at(transform(array(transform(t, tk -> xxhash64(tk))), "
            f"th -> CASE WHEN n >= {w} THEN transform(sequence(0, n - {w}), "
            f"i -> xxhash64(slice(th, i + 1, {w}))) "
            "ELSE CAST(array() AS ARRAY<BIGINT>) END), 1)"
        )
        if materialize:
            base = toks.select(
                F.col(id_col), F.col("n"), F.expr(win_arr).alias("__wa")
            ).localCheckpoint(eager=True)
            wins = base.select(
                F.col(id_col),
                F.posexplode("__wa").alias("pos", "win"),
            )
            return base.select(id_col, "n"), wins
    else:
        win_arr = (
            f"CASE WHEN n >= {w} THEN transform(sequence(0, n - {w}), "
            f"i -> concat_ws(' ', slice(t, i + 1, {w}))) "
            "ELSE array() END"
        )
    wins = toks.select(
        F.col(id_col),
        F.posexplode(F.expr(win_arr)).alias("pos", "win"),
    )
    return toks, wins


def _span_report(
    toks: DataFrame,
    hits: DataFrame,
    id_col: str,
    w: int,
    starts_name: str,
    frac_name: str,
) -> DataFrame:
    """Per-doc span rollup shared by dup_ngram_spans/decontaminate_spans:
    collect the flagged window starts sorted, then compute merged-interval
    coverage as a row-local fold (no second shuffle)."""
    per_doc = hits.groupBy(id_col).agg(
        F.sort_array(F.collect_list("pos")).alias(starts_name)
    )
    merged = toks.join(per_doc, id_col, "left").select(
        F.col(id_col),
        F.col("n").alias("n_tokens"),
        F.coalesce(F.col(starts_name), F.array().cast("array<int>")).alias(starts_name),
    )
    # row-local merged-interval length: sorted starts fold carrying the
    # furthest end seen; each span adds window minus its overlap with the
    # running end (starts ascend, so the overlap is end - s, never > window)
    covered = F.aggregate(
        starts_name,
        F.struct(
            F.lit(-(10**9)).cast("long").alias("end"), F.lit(0).cast("long").alias("cov")
        ),
        lambda acc, s: F.struct(
            F.greatest(acc["end"], s.cast("long") + w).alias("end"),
            (
                acc["cov"]
                + w
                - F.greatest(F.lit(0).cast("long"), acc["end"] - s.cast("long"))
            ).alias("cov"),
        ),
        lambda acc: acc["cov"],
    )
    return merged.withColumn("covered", covered).withColumn(
        frac_name,
        F.round(F.col("covered") / F.greatest(F.col("n_tokens"), F.lit(1)), 5),
    )


def _cut_spans(text_col: str, starts_name: str, w: int):
    """Column: the text with every token under a flagged span removed,
    rebuilt space-joined. Interval-membership is an exists over the (small)
    sorted starts array — no materialized position set (see
    drop_dup_ngram_spans for why the flatten/distinct variant is slower)."""
    toks = TX.tokens(text_col)
    return F.concat_ws(
        " ",
        F.filter(
            toks,
            lambda tok, i: ~F.exists(
                F.col(starts_name), lambda s: (i >= s) & (i < s + F.lit(w))
            ),
        ),
    )


def drop_dup_ngram_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 20,
    min_count: int = 2,
    hash_windows: bool = True,
) -> DataFrame:
    """Cleaning edition of dup_ngram_spans: remove every token covered by a
    corpus-duplicated window and rebuild the text (the paper's actual
    intervention). Adds `clean_text` + the coverage metrics; pure
    expressions after the same single candidate join."""
    spans = dup_ngram_spans(
        df, text_col, id_col, window=window, min_count=min_count, hash_windows=hash_windows
    )
    out = df.join(spans, id_col)
    w = int(window)
    # interval-membership test per token: exists over the (small) sorted
    # dup_starts array — no materialized covered-position array. The
    # tempting flatten/distinct position-set cannot be hoisted out of the
    # filter lambda (CollapseProject inlines single-use aliases back into
    # lambda bodies, where there is no CSE — verified in the optimized
    # plan), which made it O(n_tokens * coverage * alloc) per row; the
    # exists form is the same asymptotics with NO array construction and
    # a tiny constant (two comparisons per (token, span)).
    return out.withColumn("clean_text", _cut_spans(text_col, "dup_starts", w))


def dup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 10,
) -> DataFrame:
    """Transitive duplicate clusters from near-dup pairs: connected
    components by iterative min-label propagation. Returns (id, cluster_id)
    with cluster_id = the component's minimum member id (the canonical
    survivor). Dedup graphs are unions of small cliques, so convergence is
    fast (diameter rounds, typically 2-3); each round is one join + one
    aggregate — no driver-side graph state.

    An iterative dataflow by nature (no single SQL equivalent) — the
    pytest fixture checks planted chains A~B~C collapse to one cluster."""
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)  # fixed point of the loop: cut lineage once
    )
    # Fused first round (r10): with every node initialized to its own id,
    # round 1 always computes min(id, min(neighbor ids)) — fold that into
    # the initialization aggregate itself (same shuffle the old distinct
    # paid) and save one whole join+aggregate+action round per clustering.
    # Near-dup graphs are unions of near-cliques (diameter ~2), so this is
    # typically one of only two propagation rounds. Label progression from
    # here on is identical to the old code's post-round-1 state; max_iter
    # still bounds the LOOP rounds, so the effective hop budget gains one.
    # init labels stay LAZY (r11): round 1's two consumers share the
    # groupBy's exchange (ReusedExchange), so a persist bought a cache
    # write for nothing — measured inside the 0.73x A/B below.
    labels = (
        edges.groupBy(F.col("src").alias("id"))
        .agg(F.least(F.first("src"), F.min("dst")).alias("cluster_id"))
    )
    for i in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("cluster_id").alias("nmin"))
        )
        # __changed rides along in the update itself (new < old iff a
        # neighbor's label undercuts ours), so convergence is read off the
        # materialized frame — the former separate old-vs-new join ran one
        # extra shuffle join per iteration just to ask "anything changed?"
        # (guide §2.4; r10). Same label progression, same fixpoint.
        # r11: the per-round materialization is an eager localCheckpoint
        # (not a persist) — it IS the output when this round converges, so
        # the former separate final-checkpoint action disappears, the
        # lineage truncates every round (the old every-3rd-round rule),
        # and no CacheManager entry ever needs an unpersist (RDD-scoped
        # blocks, ContextCleaner-reclaimed). Interleaved A/B on the
        # x_dup_clusters pair set: min 0.584 -> 0.429 s (0.73x), labels
        # exactly equal.
        new_full = labels.join(
            neighbor_min, labels.id == neighbor_min.src, "left"
        ).select(
            "id",
            F.least(
                F.col("cluster_id"), F.coalesce(F.col("nmin"), F.col("cluster_id"))
            ).alias("cluster_id"),
            (F.col("nmin").isNotNull() & (F.col("nmin") < F.col("cluster_id"))).alias(
                "__changed"
            ),
        ).localCheckpoint(eager=True)
        changed = new_full.filter(F.col("__changed")).limit(1).count()
        labels = new_full.select("id", "cluster_id")
        if changed == 0:
            return labels
    # never converged: labels are WRONG (a component wider than
    # max_iter hops reports as several clusters) — silent truncation
    # here means a downstream survivor pass keeps extra duplicates
    # with no signal (code-review r4). Fail loudly; deep chains are
    # rare in dedup graphs (unions of near-cliques), so a raise means
    # either a pathological graph or a too-small max_iter.
    raise RuntimeError(
        f"dup_clusters did not converge within max_iter={max_iter} "
        "rounds — the duplicate graph has a component wider than "
        "max_iter hops; raise max_iter"
    )


def canonical_docs(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    quality_col: str | None = None,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 10,
) -> DataFrame:
    """Survivor selection — the step that turns near-dup PAIRS into a
    deduplicated CORPUS: cluster the pairs transitively (dup_clusters) and
    keep exactly one representative per cluster. Representative = highest
    `quality_col` (ties → lowest id), or lowest id when quality_col is None
    (matching dup_clusters' cluster_id convention). Docs in no pair are
    singleton clusters and always kept.

    Returns all df columns + [cluster_id, keep]; `filter("keep")` is the
    deduplicated corpus, `filter(NOT keep)` the dropped duplicates.

    Scale: the ranking window runs over a NARROW (id, cluster, quality)
    projection of only the in-cluster docs — typically a small fraction of
    the corpus — and the keep flags join back on id, so document payloads
    never pass through the rank shuffle. Singletons take the no-match arm
    of one left join; no corpus-wide window."""
    labels = dup_clusters(pairs, id_a=id_a, id_b=id_b, max_iter=max_iter).select(
        F.col("id").alias(id_col), "cluster_id"
    )
    from pyspark.sql import Window

    narrow_cols = [id_col] + ([quality_col] if quality_col is not None else [])
    clustered = df.select(*narrow_cols).join(labels, id_col)
    order = (
        [F.col(quality_col).desc(), F.col(id_col).asc()]
        if quality_col is not None
        else [F.col(id_col).asc()]
    )
    w = Window.partitionBy("cluster_id").orderBy(*order)
    flags = clustered.select(
        F.col(id_col),
        F.col("cluster_id"),
        (F.row_number().over(w) == 1).alias("keep"),
    )
    return (
        df.join(flags, id_col, "left")
        .withColumn("cluster_id", F.coalesce(F.col("cluster_id"), F.col(id_col)))
        .withColumn("keep", F.coalesce(F.col("keep"), F.lit(True)))
    )


def semantic_dedup(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    n_clusters: int = 64,
    threshold: float = 0.97,
    kmeans_iters: int = 3,
) -> DataFrame:
    """Semantic (embedding-space) deduplication, SemDeDup-style: cluster the
    corpus with distributed k-means, verify cosine similarity ONLY within
    clusters, and keep the lowest id of each near-duplicate pair. Returns
    the surviving rows of `df`.

    Scale shape: the E-step assignment is pure JVM expressions; the
    within-cluster pair join is blocked on the cluster id, so candidate
    volume is Σ cluster_size² instead of n² — n_clusters is the knob that
    trades recall (a near-dup pair straddling a cluster boundary is missed,
    the standard SemDeDup trade) against join fan-out. Losers leave via a
    broadcast anti-join; the corpus is shuffled only by the pair join's
    block key."""
    from venice_spark.similarity import ivf_assign, kmeans_fit

    cents = kmeans_fit(df, vec_col, n_clusters=n_clusters, iters=kmeans_iters)
    assigned = df.withColumn("__sc", ivf_assign(vec_col, cents))
    pairs = embedding_near_dup_pairs(assigned, vec_col, id_col, "__sc", threshold)
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return assigned.join(F.broadcast(losers), id_col, "left_anti").drop("__sc")


def cdc_chunk_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    divisor: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """Content-defined chunking dedup signal: token-level CDC (the Rabin/
    rsync idea at token granularity — cut after any token whose hash ≡ 0
    mod `divisor`), then count chunks whose CONTENT repeats corpus-wide.

    Why not fixed windows (dup_ngram_spans)? Fixed windows are offset-
    sensitive: insert one token and every later window's content changes.
    CDC boundaries depend only on local token content, so an insertion
    only perturbs the chunk it lands in — the standard dedup trick for
    shift-robust detection of shared passages (storage dedup, rsync, LLM
    corpus near-dup at passage level).

    Plan shape for 100 TB: chunking is 100%% ROW-LOCAL (boundary positions,
    starts/ends, and chunk texts are array expressions over the token
    array — zero shuffle, no window function, no Python); the only shuffle
    is the duplicate count, which moves one 60-bit portable hash
    (functions/text.hash64 — md5-derived, so any SQL oracle re-derives it)
    per chunk with map-side partial aggregation.

    Three measured plan hazards shaped this implementation (19s → ~1.5s at
    sf0.1): (1) only the cheap (start, end) range pairs explode; the chunk
    text assembles AFTER the generator inside whole-stage codegen (the
    interpreted-Generate lesson from vectors.random_projection_cols);
    (2) the explode is posexplode_OUTER: for a plain explode,
    InferFiltersFromGenerate synthesizes `size(rng) > 0` and pushes the
    ENTIRE md5 range chain below the scan's exchange — evaluated twice,
    once on the pre-shuffle partitioning (a single task for a one-file
    corpus); rng is non-empty for every real document, so outer changes
    no rows and the residual null guard is a cheap attribute filter;
    (3) the hashed chunk frame feeds three consumers (dup set, per-doc
    dups, per-doc totals) and would re-derive the whole chain for each, so
    it persists function-locally and unpersists before returning (the
    minhash discipline, VERDICT r2 #4).

    Returns [id_col, n_chunks, dup_chunks, dup_chunk_frac]."""
    d = int(divisor)
    # _spread: a single-file corpus plans ONE scan task and the whole md5
    # chain serializes on one core (measured 3x wall at sf0.1); no-op (and
    # no shuffle) when the source already has enough partitions
    toks = _spread(df, id_col).select(
        F.col(id_col), TX.tokens(text_col).alias("t")
    ).withColumn("n", F.size("t"))
    # boundary AFTER position i (1-based) where hash64(token) % divisor == 0;
    # chunk (start, end) ranges derive row-locally from the boundary list.
    # CASE guard: Spark's sequence(1, 0) yields the DESCENDING [1, 0].
    hash_expr = (
        "CAST(conv(substring(md5(element_at(t, i)), 1, 15), 16, 10) AS BIGINT)"
    )
    ranges = toks.withColumn(
        "bp",
        F.expr(
            f"CASE WHEN n >= 1 THEN "
            f"filter(sequence(1, n), i -> pmod({hash_expr}, {d}) = 0) "
            "ELSE array() END"
        ),
    ).withColumn(
        "rng",
        F.expr(
            "filter(zip_with("
            "  concat(array(1), transform(bp, x -> x + 1)),"
            "  concat(bp, array(n)),"
            "  (s, e) -> IF(s <= e, struct(s, e), CAST(NULL AS STRUCT<s: INT, e: INT>))"
            "), r -> r IS NOT NULL)"
        ),
    )
    exploded = (
        ranges.select(
            F.col(id_col),
            F.col("t"),
            F.posexplode_outer("rng").alias("chunk_idx", "r"),
        )
        .filter(F.col("r").isNotNull())
        .withColumn(
            "h",
            TX.hash64(
                F.concat_ws(
                    " ", F.slice("t", F.col("r.s"), F.col("r.e") - F.col("r.s") + 1)
                )
            ),
        )
        .select(id_col, "h")
        .persist()
    )
    dup = (
        exploded.groupBy("h")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= min_count)
        .select("h")
    )
    per_doc = (
        exploded.join(dup, "h")
        .groupBy(id_col)
        .agg(F.count("*").alias("dup_chunks"))
    )
    totals = exploded.groupBy(id_col).agg(F.count("*").alias("n_chunks"))
    out = (
        toks.select(id_col)
        .join(totals, id_col, "left")
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_chunks", F.lit(0)).alias("n_chunks"),
            F.coalesce("dup_chunks", F.lit(0)).alias("dup_chunks"),
            F.round(
                F.coalesce("dup_chunks", F.lit(0))
                / F.greatest(F.coalesce("n_chunks", F.lit(0)), F.lit(1)),
                5,
            ).alias("dup_chunk_frac"),
        )
        .localCheckpoint(eager=True)
    )
    exploded.unpersist()
    return out
