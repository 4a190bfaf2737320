"""Deduplication operators — exact and near-duplicate.

The reference's only dedup is keep-last-per-key dict building
(reference update_ticker_info.py:136, scrape_tickers.py:601-602);
the near-dup family (MinHash-LSH, SimHash, n-gram Jaccard) is the
north-star extension for training-data pipelines at 100 TB.

Design for scale:
  * content hashing (md5) happens scan-side — codegen, no Python;
  * MinHash avoids the all-pairs O(n²) comparison: signatures are
    banded, candidate pairs come from an equi-join on
    (band, band_signature) — shuffle volume ∝ #near-dup candidates,
    not n²;
  * SimHash joins on 16-bit prefix blocks (two out of four blocks
    must match for Hamming ≤ 3-per-block patterns; we use prefix
    blocking as the candidate generator) — again equi-join, not
    cross join;
  * n-gram Jaccard verifies candidates exactly via exploded-shingle
    intersection counts (group-by, map-side combinable).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from psx_data_pipeline_spark.functions.hashing import (
    HASH_P,
    md5_long,
    minhash_perms,
)
from psx_data_pipeline_spark.functions.textfns import tokens, word_shingles
from psx_data_pipeline_spark.session import hold


def _dup_collapse(df: DataFrame, text_col: str, id_col: str):
    """Collapse exact-duplicate texts before similarity machinery.

    Identical texts make EVERY blocking scheme (bands, pigeonhole
    blocks, prefix filters) quadratic in the duplication factor while
    telling us nothing — their pairs are known in advance — and
    duplicate-heavy corpora are precisely what dedup operators see.
    Returns (grouped, reps, members): grouped is the persisted
    working frame (the caller releases or holds it),
    reps has one (id, __txt) row per distinct text (the min-id
    member, via ONE fingerprint window), members maps every id to
    its representative."""
    grouped = (
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__txt"))
        .withColumn("fp", F.md5("__txt"))
        .withColumn("rep", F.min("id").over(Window.partitionBy("fp")))
        .persist()
    )
    reps = grouped.where(F.col("id") == F.col("rep")).select("id", "__txt")
    members = grouped.select("id", "rep")
    return grouped, reps, members


def _near_dup_pairs(
    rep_pairs: DataFrame,
    members: DataFrame,
    intra_values: dict[str, Column],
    *working: DataFrame,
) -> DataFrame:
    """The near-dup operators' shared epilogue: expand
    representative-level pairs (rep_a, rep_b, *intra_values) back to
    document ids and release the caller's persisted ``working``
    frames.

    It checkpoints the expansion's INPUTS (qualifying rep pairs +
    id->rep map), not the expanded output: the persisted subtrees
    release immediately, while the (potentially huge, output-bound)
    expansion stays a lazy plan — eagerly caching it as deserialized
    rows measured 70 s of GC thrash at a 30x-duplicated corpus.
    rep_pairs is output-bound (small); members is O(corpus) ROWS — but
    only 2 longs (~16 B) per row, held as executor-distributed RDD
    blocks, never on the driver. The checkpoints exist to truncate
    lineage so the working frames can unpersist, at the standard
    localCheckpoint cost: blocks are not recomputable, so an executor
    loss fails the job instead of recomputing. Both are held until
    clear_session_memos, because the returned plan reads them.

    Intra-group pairs (identical texts) get the known ``intra_values``
    (e.g. jaccard 1.0, hamming 0); cross-group pairs inherit the
    representatives' values — member texts ARE the reps' texts.
    Output-bound by construction: the expansion joins are on the
    (tiny) rep keys and emit exactly the final pairs."""
    rep_pairs = hold(rep_pairs.localCheckpoint(eager=True))
    members = hold(members.localCheckpoint(eager=True))
    intra = (
        members.select(F.col("id").alias("id_a"), F.col("rep").alias("g"))
        .join(
            members.select(F.col("id").alias("id_b"), F.col("rep").alias("g")),
            "g",
        )
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b",
            *[v.alias(k) for k, v in intra_values.items()],
        )
    )
    cross = (
        rep_pairs.join(
            members.select(F.col("id").alias("ida"), F.col("rep").alias("rep_a")),
            "rep_a",
        )
        .join(
            members.select(F.col("id").alias("idb"), F.col("rep").alias("rep_b")),
            "rep_b",
        )
        .select(
            F.least("ida", "idb").alias("id_a"),
            F.greatest("ida", "idb").alias("id_b"),
            *intra_values,
        )
    )
    out = intra.unionByName(cross)
    for df in working:
        df.unpersist()
    return out


def dedup_exact(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact content dedup: md5 fingerprint group-by, keep min id.

    Returns (id, fingerprint, group_size) for the survivor of each
    content group. One shuffle on the 128-bit fingerprint — at scale
    the canonical first pass before any near-dup method.
    """
    fp = F.md5(F.col(text_col)).alias("fingerprint")
    return (
        df.select(F.col(id_col).alias("id"), fp)
        .groupBy("fingerprint")
        .agg(F.min("id").alias("id"), F.count(F.lit(1)).alias("group_size"))
        .select("id", "fingerprint", "group_size")
    )


def dedup_latest(df: DataFrame, key: str, order_col: str, *tiebreaks: str) -> DataFrame:
    """Keep-last-per-key (reference dict-build semantics,
    update_ticker_info.py:136) via row_number over
    (order_col desc, tiebreaks... desc nulls last). The tiebreak chain
    must make the ordering TOTAL over every column the caller emits:
    an "id" tiebreak alone is engine-arbitrary the moment hostile data
    duplicates the id (round-11 orders lesson — at 100 TB that is
    run-to-run nondeterminism in whichever payload columns ride
    along), so callers pass every remaining output column."""
    w = Window.partitionBy(key).orderBy(
        F.desc(order_col), *[F.desc_nulls_last(t) for t in tiebreaks]
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


# --- MinHash + LSH ----------------------------------------------------------

def minhash_signature_array(
    df: DataFrame, text_col: str, id_col: str, k: int = 16, shingle_n: int = 3
) -> DataFrame:
    """Per-document MinHash signature as ONE (id, sig: array<long>)
    row — the wide min-aggregation without a stack-to-rows step.

    Shingle hashing is an array expression (no explode of the hash
    step); the k permutation mins are k agg columns over the shingle
    rows, so shuffle volume is k longs per doc after map-side
    combine, not k × |shingles| rows; a·h+b stays in int64
    (a, b, h < 2³¹). Downstream band signatures and component
    agreement become ARRAY PROJECTIONS (slice / zip_with) instead of
    re-aggregations — minhash_lsh_pairs drops its collect_list bsig
    shuffle, minhash_calibration its 16×-pair explode + groupBy.
    """
    sh = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(word_shingles(text_col, shingle_n))).alias("sh"),
    ).withColumn("h", md5_long(F.col("sh")) % HASH_P)
    aggs = [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % HASH_P).alias(f"m{i}")
        for i, a, b in minhash_perms(k)
    ]
    wide = sh.groupBy("id").agg(*aggs)
    return wide.select(
        "id", F.array(*[F.col(f"m{i}") for i in range(k)]).alias("sig")
    )


def band_signatures(sig_arr: DataFrame, bands: int, rows_per_band: int) -> DataFrame:
    """(id, band, bsig) from array signatures: a pure projection —
    explode the band index, slice the signature, join the slice as a
    comma string. No aggregation, no extra shuffle.

    ``bands × rows_per_band`` must cover the whole signature: a
    partial trailing band would silently drop components here while
    the SQL oracles' ``i // rows_per_band`` banding would KEEP them
    in an extra band — an engine-vs-oracle divergence. The signature
    length is data-level (not in the schema), so the guard is too:
    any row whose signature isn't exactly bands × rows_per_band long
    raises at execution, for EVERY caller (not just those that know
    k and check divisibility up front)."""
    n = bands * rows_per_band
    return sig_arr.select(
        "id",
        "sig",
        F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band"),
    ).select(
        "id",
        "band",
        F.expr(
            f"CASE WHEN size(sig) = {n} THEN"
            f" concat_ws(',', transform(slice(sig, band * {rows_per_band} + 1,"
            f" {rows_per_band}), x -> CAST(x AS STRING)))"
            f" ELSE raise_error(concat('band_signatures: signature length ',"
            f" CAST(coalesce(size(sig), -1) AS STRING),"
            f" ' != bands*rows_per_band = {n}"
            f" — a partial trailing band would silently diverge from the"
            f" i // rows_per_band oracle banding')) END"
        ).alias("bsig"),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) whose signatures collide
    in ≥1 LSH band. rows_per_band = k/bands; band signature is the
    ordered concatenation of the band's min-values.

    Exact duplicates collapse first (identical texts ⇒ identical
    signatures ⇒ every band collides — the quadratic-in-duplication
    candidate volume is known in advance); banding runs on one
    representative per distinct text and the group pairs expand
    afterward (see _dup_collapse), so candidate generation scales
    with DISTINCT texts and the expansion is output-bound."""
    grouped, reps, members = _dup_collapse(df, text_col, id_col)
    if k % bands:
        raise ValueError(
            f"k={k} must be divisible by bands={bands}: a partial "
            "trailing band would be dropped by the slice banding but "
            "kept by the i // rows_per_band oracle form"
        )
    rows_per_band = k // bands
    sig = minhash_signature_array(
        reps.select(F.col("id").alias(id_col), F.col("__txt").alias(text_col)),
        text_col, id_col, k, shingle_n,
    )
    # band signatures are a PROJECTION of the array signature (slice +
    # concat), not a second aggregation — one shuffle for the whole
    # signature stage. Both sides of the self-join read this subtree —
    # persist it so the signature computation runs once.
    band_sig = band_signatures(sig, bands, rows_per_band).persist()
    a = band_sig.select(
        F.col("id").alias("rep_a"), "band", "bsig"
    )
    b = band_sig.select(F.col("id").alias("rep_b"), "band", "bsig")
    rep_pairs = (
        a.join(b, ["band", "bsig"])
        .where(F.col("rep_a") < F.col("rep_b"))
        .select("rep_a", "rep_b")
        .distinct()
    )
    return _near_dup_pairs(rep_pairs, members, {}, band_sig, grouped)


# --- SimHash ----------------------------------------------------------------

def simhash(df: DataFrame, text_col: str, id_col: str, bits: int = 32) -> DataFrame:
    """Per-document SimHash over token md5 hashes.

    Token explode → per-bit signed vote → majority bit → integer
    fingerprint. Shuffles once on the doc id (map-side combine on the
    per-bit sums). ``bits`` ≤ 60 so everything stays in one bigint.
    """
    tok = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(tokens(text_col))).alias("tok"),
    ).withColumn("h", md5_long(F.col("tok")))
    # One WIDE aggregation — `bits` signed-vote sums as columns —
    # instead of a bits-way row explode feeding groupBy(id, j): the
    # shuffle carries `bits` longs per doc (map-side combined), not
    # bits × |tokens| rows, and the second per-doc aggregation
    # disappears entirely (the fingerprint is a projection).
    aggs = [
        F.sum(
            F.when(F.expr(f"shiftright(h, {j}) & 1") == 1, 1).otherwise(-1)
        ).alias(f"s{j}")
        for j in range(bits)
    ]
    wide = tok.groupBy("id").agg(*aggs)
    fp = None
    for j in range(bits):
        term = F.when(F.col(f"s{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        fp = term if fp is None else fp + term
    return wide.select("id", fp.cast("long").alias("simhash"))


def simhash_near_pairs(
    df: DataFrame, text_col: str, id_col: str, bits: int = 32, max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance.

    Candidate generation blocks on ⌈bits/16⌉ prefix blocks (pigeonhole:
    Hamming ≤ max_hamming ⇒ at least one 16-bit block equal when
    blocks > max_hamming); verification is bit_count(xor) ≤ d.

    Exact duplicates collapse first (identical texts ⇒ identical
    simhashes ⇒ every block collides; at a 30×-duplicated corpus the
    uncollapsed block join OOMed the executor) — blocking runs on one
    representative per distinct text, intra-group pairs emit with
    Hamming 0, cross pairs inherit the representatives' distance.
    """
    grouped, reps, members = _dup_collapse(df, text_col, id_col)
    n_blocks = max(max_hamming + 1, bits // 16)
    block_w = bits // n_blocks
    sh = simhash(
        reps.select(F.col("id").alias(id_col), F.col("__txt").alias(text_col)),
        text_col, id_col, bits,
    )
    blk = sh.select(
        "id",
        "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1))).alias("blk"),
    ).withColumn(
        "blkval",
        F.expr(
            f"shiftright(simhash, blk * {block_w})"
            f" % shiftleft(CAST(1 AS BIGINT), {block_w})"
        ),
    ).persist()  # read by both sides of the self-join below
    a = blk.select(F.col("id").alias("rep_a"), F.col("simhash").alias("sh_a"), "blk", "blkval")
    b = blk.select(F.col("id").alias("rep_b"), F.col("simhash").alias("sh_b"), "blk", "blkval")
    # First-matching-block dedup (round-12, guide §2.4): a pair at
    # Hamming ≤ d collides in up to n_blocks blocks, so the block
    # join emits up to n_blocks bit-identical candidate rows — the
    # previous .distinct() collapsed them with a full exchange +
    # hash-aggregate of the candidate set. Both simhashes already
    # ride the join row, so "is blk the FIRST matching block" is a
    # pure map predicate: block i matches iff the xor restricted to
    # block i is zero, and exactly the row whose earlier blocks all
    # differ survives — one row per pair, no shuffle. The when-chain
    # is unrolled over the (small, fixed) block count so it stays in
    # whole-stage codegen (a higher-order forall would run
    # interpreted on every candidate row).
    def _blk_xor(i: int) -> Column:
        return F.expr(
            f"shiftright(sh_a ^ sh_b, {i * block_w})"
            f" % shiftleft(CAST(1 AS BIGINT), {block_w})"
        )

    first_match = F.when(F.col("blk") == 0, F.lit(True))
    acc = F.lit(True)
    for i in range(1, n_blocks):
        acc = acc & (_blk_xor(i - 1) != 0)
        first_match = first_match.when(F.col("blk") == i, acc)
    rep_pairs = (
        a.join(b, ["blk", "blkval"])
        .where((F.col("rep_a") < F.col("rep_b")) & first_match)
        .withColumn(
            "hamming",
            F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))),
        )
        .where(F.col("hamming") <= max_hamming)
        .select("rep_a", "rep_b", "hamming")
    )
    return _near_dup_pairs(
        rep_pairs, members, {"hamming": F.lit(0)}, blk, grouped
    )


# --- n-gram Jaccard -----------------------------------------------------------

def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact Jaccard similarity over distinct n-word shingles, with
    prefix-filtered candidate generation (Bayardo et al. WWW'07 /
    PPJoin, Xiao et al.).

    Joining on EVERY shingle makes hot shingles quadratic (a shingle
    shared by m docs yields m² candidate rows). Instead, shingles are
    globally ordered by (corpus frequency, shingle) and each doc
    contributes only its first |A| − ⌈t·|A|⌉ + 1 shingles (its
    "prefix", the rarest ones) to the join: if J(A,B) ≥ t the two
    prefixes must intersect under a shared total order, so the filter
    is lossless. Candidates then verify exactly with
    array_intersect over the full (bounded, per-doc) shingle arrays.
    The frequency table is a map-side-combinable count — one extra
    scan buys candidate volume proportional to rare-shingle
    frequencies instead of hot-shingle squares.
    Output: (id_a, id_b, jaccard) above threshold. Jaccard is a ratio
    of integers → identical across engines.

    Exact duplicates are collapsed BEFORE the similarity machinery:
    identical texts make every blocking scheme quadratic in the
    duplication factor (10 copies of a doc = 45 legit pairs, but the
    prefix join would also move 10× the shingle arrays to make every
    candidate) — and duplicate-heavy corpora are precisely what a
    dedup operator sees. PPJoin runs on one representative per
    distinct text; group pairs expand afterward: intra-group pairs
    are Jaccard 1.0 by identity, cross-group pairs inherit the
    representatives' score. Measured at a 10×-duplicated corpus this
    is the difference between 115 s and ~7 s — and at 100 TB between
    quadratic-in-duplication and output-bound.
    """
    grouped, reps, members = _dup_collapse(df, text_col, id_col)
    # the shingle arrays feed four consumers (freq, prefix, both
    # verify sides) — persist so the shingling expression runs once
    base = reps.select(
        "id",
        F.array_distinct(word_shingles("__txt", shingle_n)).alias("shs"),
    ).withColumn("n_sh", F.size("shs")).persist()
    sh = base.select("id", "n_sh", F.explode("shs").alias("sh"))
    # Per-shingle corpus frequency as an unordered count window over
    # the exploded table (round 12, guide §2.4): ONE exchange of the
    # shingle rows replaces the former groupBy-freq + equi-join pair
    # (a second full exchange of the same rows into the sort-merge
    # join, plus the partial-count exchange). The per-doc prefix rank
    # is then a per-doc array_sort + slice instead of a row_number
    # window — the (id) exchange it needs is the collect_list
    # groupBy's, so the global (id, sfreq, sh) sort stage drops out
    # too. Rank-identical: (sfreq, sh) pairs are distinct within a
    # doc (shingles are array_distinct'd), so lexicographic struct
    # sort order == the old (sfreq asc, sh asc) row_number order.
    scored = sh.withColumn(
        "sfreq", F.count(F.lit(1)).over(Window.partitionBy("sh"))
    )
    prefix_len = F.col("n_sh") - F.ceil(F.lit(threshold) * F.col("n_sh")) + 1
    prefix = (
        scored.groupBy("id")
        .agg(
            F.max("n_sh").alias("n_sh"),  # constant per doc
            F.collect_list(F.struct("sfreq", "sh")).alias("__ts"),
        )
        .select(
            "id", "n_sh",
            F.posexplode(
                F.slice(
                    F.array_sort("__ts"), F.lit(1),
                    # greatest(0): a degenerate threshold > 1 makes
                    # prefix_len negative — the old row_number filter
                    # returned no rows there, and slice must not error
                    F.greatest(prefix_len.cast("int"), F.lit(0)),
                )
            ).alias("__pos", "__t"),
        )
        .select(
            "id", "n_sh", F.col("__t.sh").alias("sh"),
            (F.col("__pos") + 1).alias("__rk"),
        )
        .persist()  # both sides of the candidate self-join
    )
    # Two candidate prunes before anything wide moves:
    # * size-compatibility: J(A,B) ≥ t forces t·|B| ≤ |A| ≤ |B|/t;
    # * PPJoin POSITIONAL filter (Xiao et al. §3.2): for a match on
    #   shingle w at ranks (i, j) of the two sorted-by-global-order
    #   lists, overlap ≤ 1 + min(|A|−i, |B|−j) — every OTHER shared
    #   shingle sorts after the first shared one in both lists. A
    #   true pair needs overlap ≥ t/(1+t)·(|A|+|B|), and its first
    #   shared shingle passes the bound, so filtering per occurrence
    #   before the pair-distinct is lossless (property-tested). On a
    #   duplication-heavy corpus whose texts are all byte-distinct
    #   (exact-collapse inapplicable — the --distinct-texts probe)
    #   this is the difference between 131 s and 15 s: hot shingles
    #   generate m² occurrences, and the positional bound kills the
    #   bulk before the distinct + verify join see them.
    min_overlap = F.ceil(
        F.lit(threshold / (1.0 + threshold))
        * (F.col("ca") + F.col("cb"))
        - F.lit(1e-9)  # float-boundary guard: never over-prune
    )
    cand = (
        prefix.select(
            F.col("id").alias("id_a"), F.col("n_sh").alias("ca"),
            "sh", F.col("__rk").alias("rk_a"),
        )
        .join(
            prefix.select(
                F.col("id").alias("id_b"), F.col("n_sh").alias("cb"),
                "sh", F.col("__rk").alias("rk_b"),
            ),
            "sh",
        )
        .where(
            (F.col("id_a") < F.col("id_b"))
            & (F.col("ca") >= F.ceil(F.lit(threshold) * F.col("cb")))
            & (F.col("cb") >= F.ceil(F.lit(threshold) * F.col("ca")))
            & (
                F.lit(1)
                + F.least(
                    F.col("ca") - F.col("rk_a"),
                    F.col("cb") - F.col("rk_b"),
                )
                >= min_overlap
            )
        )
        .select("id_a", "id_b")
        .distinct()
    )
    a = base.select(F.col("id").alias("id_a"), F.col("shs").alias("shs_a"),
                    F.col("n_sh").alias("n_a"))
    b = base.select(F.col("id").alias("id_b"), F.col("shs").alias("shs_b"),
                    F.col("n_sh").alias("n_b"))
    rep_pairs = (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("n_int", F.size(F.array_intersect("shs_a", "shs_b")))
        .withColumn(
            "jaccard",
            F.col("n_int").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_int")).cast("double"),
        )
        .where(F.col("jaccard") >= threshold)
        .select(
            F.col("id_a").alias("rep_a"),
            F.col("id_b").alias("rep_b"),
            "jaccard",
        )
    )
    # intra-group pairs are Jaccard 1.0 by identity
    return _near_dup_pairs(
        rep_pairs, members, {"jaccard": F.lit(1.0)}, base, prefix, grouped
    )


# --- near-dup clustering (connected components) ------------------------------

def connected_components(
    edges: DataFrame,
    nodes: DataFrame,
    id_col: str = "id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components by iterative min-label propagation:
    every node starts as its own component; each round takes the min
    of its own and its neighbors' labels; fixpoint = components keyed
    by their smallest member id (deterministic).

    The per-round step is one equi-join + one map-side-combinable min
    aggregation — fully distributed; the driver only checks the
    changed-row count. Rounds needed = graph diameter (near-dup
    clusters are shallow). localCheckpoint truncates the growing
    lineage so round N doesn't replay rounds 1..N-1; every round's
    checkpoint is held until clear_session_memos.

    Only EDGE-TOUCHED nodes iterate: a node with no edge can never
    change its label, so carrying the whole corpus through every
    round's shuffle + checkpoint (as this operator originally did)
    buys nothing and scales the per-round cost with the CORPUS
    instead of with the near-dup graph — at 100 TB that is the
    difference between shuffling ~billions of singleton labels per
    round and shuffling the (orders-of-magnitude smaller) edge
    endpoint set. Singletons rejoin once at the end via a left join
    that AQE broadcasts (the converged label table is graph-bounded).
    The endpoint label table needs no separate build: the FIRST
    propagation round is fused into it (after round one, every
    endpoint's label is exactly min(id, min neighbor id) — one
    groupBy over the persisted edge list), so the loop starts at
    round two and a diameter-d graph costs d iterations, not d+1.

    Precondition: edge endpoints are drawn from ``nodes`` (every
    caller derives both from the same frame). A stray endpoint would
    propagate its id as a candidate label before the final join
    discards it.
    Returns (id, comp).
    """
    bi = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).unionByName(
        edges.select(
            F.col(dst_col).alias("src"), F.col(src_col).alias("dst")
        )
    ).persist()
    all_ids = nodes.select(F.col(id_col).alias("id"))
    lbl = hold(
        bi.groupBy(F.col("src").alias("id"))
        .agg(F.min("dst").alias("__mnd"))
        .select(
            "id", F.least(F.col("id"), F.col("__mnd")).alias("comp")
        )
        .localCheckpoint()
    )
    for _ in range(max_iter):
        # ONE join + ONE groupBy per round (round-12, guide §2.4):
        # each node's new label is min over {its own label} ∪ {its
        # neighbors' labels}, expressed as a union of a neighbor-
        # message arm and a self arm collapsed by a single map-side-
        # combinable min — identical to the previous
        # join→groupBy→left-join form (min(comp, coalesce(nb_comp,
        # comp)) ≡ min over the union; every lbl id appears in the
        # self arm, so no node is dropped) at one fewer shuffle of
        # the label table per round. The previous label rides the
        # self arm (its min is a no-op over one non-null value), so
        # the convergence check stays a filter over the round output.
        msgs = bi.join(lbl.withColumnRenamed("id", "src"), "src").select(
            F.col("dst").alias("id"),
            "comp",
            F.lit(None).cast(lbl.schema["comp"].dataType).alias(
                "prev_comp"
            ),
        )
        own = lbl.select("id", "comp", F.col("comp").alias("prev_comp"))
        # LAZY checkpoint + count = ONE action per round (round-12,
        # guide §1.2/2.4): the eager form ran two jobs per round — one
        # materializing the checkpoint, one scanning it for the
        # convergence count. Marking the checkpoint lazy makes the
        # count's job compute the round output, persist it as the
        # checkpoint blocks (localCheckpoint materializes on first
        # use), and count the changed rows in the same pass; the next
        # round reads the persisted blocks exactly as before.
        new = hold(
            msgs.unionByName(own)
            .groupBy("id")
            .agg(
                F.min("comp").alias("comp"),
                F.min("prev_comp").alias("prev_comp"),
            )
            .localCheckpoint(eager=False)
        )
        changed = new.where(F.col("comp") != F.col("prev_comp")).count()
        lbl = new.drop("prev_comp")
        if changed == 0:
            break
    else:
        # the fixpoint was NOT reached — labels are wrong for any
        # component whose diameter exceeds max_iter; failing loudly
        # beats returning a silently incorrect clustering
        bi.unpersist()
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            f"iterations ({changed} labels still changing); raise "
            "max_iter (rounds needed = graph diameter)"
        )
    bi.unpersist()
    # singletons (no edges) were never iterated — they are their own
    # component; the converged lbl table is graph-bounded, so AQE
    # broadcasts this join against the full corpus
    return all_ids.join(lbl, "id", "left").select(
        "id", F.coalesce("comp", F.col("id")).alias("comp")
    )
