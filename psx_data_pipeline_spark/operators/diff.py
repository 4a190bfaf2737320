"""Snapshot diff + fuzzy rename detection (reference parity).

Reference semantics: ``identify_changes`` at
reference scrape_tickers.py:574-624 — two set differences (added /
deleted) plus a greedy fuzzy name match promoting (deleted, added)
pairs to renames. The greedy pass iterates Python sets, so the
reference is order-dependent; here the 1:1 assignment is made
deterministic via row_number over (score, old_key, new_key) — see
SURVEY.md §7.4.

Scale notes: the diff is ONE full-outer join on the key (sort-merge
or broadcast if one snapshot is small). Rename detection joins only
the added×deleted *residual* (the day's churn, tiny relative to the
table), and never through a cross join: one filter-and-verify probe
join produces every candidate pair. Both residuals are stacked into
one (side, key, name) frame; each *needle* (every name, plus every
old-name token) is blocked on its rarest 4-gram on the other side,
equi-joined to that side's gram table, and verified with
``contains``. The needles are chosen so the candidates are a superset
of the pairs the final predicate accepts (see ``detect_renames``), so
the shuffle stays bounded by the change volume, not the table size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from psx_data_pipeline_spark.functions.textfns import WS_RE

# gram length of the candidate blocking
B = 4


def snapshot_diff(current: DataFrame, previous: DataFrame, key: str) -> DataFrame:
    """Classify keys into ADDED / DELETED / COMMON in one full-outer join.

    Reference: the two set differences at scrape_tickers.py:586-591;
    a single join replaces both anti-joins (one shuffle, not two).
    """
    cur = current.select(F.col(key).alias("cur_key"))
    prev = previous.select(F.col(key).alias("prev_key"))
    joined = cur.join(prev, cur.cur_key == prev.prev_key, "full_outer")
    return joined.select(
        F.when(F.col("prev_key").isNull(), F.lit("ADDED"))
        .when(F.col("cur_key").isNull(), F.lit("DELETED"))
        .otherwise(F.lit("COMMON"))
        .alias("change_type"),
        F.coalesce(F.col("cur_key"), F.col("prev_key")).alias(key),
    )


def _grams(s: Column) -> Column:
    """Distinct B-char substrings of ``s``; a shorter string is its
    own only gram (it can never equal a needle's B-char gram)."""
    idx = F.sequence(F.lit(1), F.greatest(F.length(s) - B + 1, F.lit(1)))
    return F.array_distinct(F.transform(idx, lambda i: s.substr(i, F.lit(B))))


def _short_subs(s: Column) -> Column:
    """Distinct substrings of every length 0..B-1 of ``s``. A needle
    shorter than one gram IS its own only "gram", so
    ``needle == gram`` over this set is exact substring containment
    expressed as an equi-join. The EMPTY substring is deliberately in
    the set: `'' in name` is True in Python (the reference's
    predicate) and contains(name, '') is true in both engines, so an
    empty-named churn row matches every container (round-10
    hostile-ticker find; the '' key joins only against empty needles,
    so the candidate volume stays output-bound). Volume is
    ~(B-1)·len(name) rows per name of the churn residual."""

    # Capture n via a factory, NEVER `lambda i, n=n:` — PySpark
    # counts a defaulted parameter as a second lambda argument and
    # silently switches F.transform to its (element, index) two-arg
    # form, making the substring LENGTH the array index (round-10
    # hostile-corpus find; pinned by test_short_name_containment_rename).
    def _sub_of_len(nn: int):
        return lambda i: s.substr(i, F.lit(nn))

    gs = F.flatten(F.array(*[
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(s) - n + 1, F.lit(1))),
            _sub_of_len(n),
        )
        for n in range(1, B)
    ]))
    return F.array_distinct(F.concat(gs, F.array(F.lit(""))))


def detect_renames(
    deleted: DataFrame,
    added: DataFrame,
    key: str = "symbol",
    name: str = "name",
    min_token_len: int = 3,
    parity: bool = False,
    min_name_lens: tuple[int | None, int | None] | None = None,
) -> DataFrame:
    """Deterministic re-spec of the reference's fuzzy rename matcher.

    Predicate: lowercase substring containment either way, OR (both
    names longer than 10 chars and a shared whole token with
    len>min_token_len). This deliberately TIGHTENS the reference's
    third clause (scrape_tickers.py:612-614 accepts any old-name
    token with len>3 appearing as a SUBSTRING of the new name; here
    the token must appear as a whole token in both) — a re-spec for
    determinism and equi-join-ability, documented per SURVEY.md §7.4.
    ``parity=True`` switches the third clause to the reference's
    exact predicate. (The reference's greedy set-iteration pick is
    still replaced by the deterministic best-score 1:1 assignment;
    the PREDICATE is parity, the tie-resolution is deterministic.)

    Candidates come from ONE needle join instead of the reference's
    O(|deleted|×|added|) nested loop, in both modes. A needle is a
    string the other side's name must contain:
      * every old name (old ⊆ new) and every new name (new ⊆ old);
      * every old-name token with len>min_token_len. In parity mode
        the third clause IS "token ⊆ new name"; in the default mode
        a shared whole token is in particular a substring of the new
        name.
    Every pair the predicate accepts therefore has a needle contained
    in its other name, so the candidates are a superset of the
    matches and the final predicate keeps only the true ones. A
    needle of ≥B chars is blocked on its RAREST B-gram, frequency
    measured on the other side (a fixed pick such as the first gram
    degenerates to all-pairs on shared prefixes like "Customer#…";
    a gram absent there drops the needle before any join), then
    equi-joined to the other side's gram table and verified with
    ``contains``. A needle shorter than one gram equi-joins whole
    against the other side's 1..B-1-char substring set; that branch
    exists only when such needles can (``min_name_lens`` — the
    (deleted, added) minimum name lengths — or one scalar probe job,
    and ``min_token_len < B - 1``).

    1:1 assignment keeps the best pair per old key and per new key
    via two row_number passes ordered by (score desc, old_key,
    new_key) — deterministic where the reference's set iteration was
    not.

    Nothing is cached here; callers own materialization. The stacked
    ``sides`` frame is read three times (the gram table twice, the
    needles once; once more for short needles), so the inputs should
    be cheap to rescan — e.g. the cached churn residuals plans/ticker
    passes. The short-needle gate observes the inputs once, at
    plan-construction time: do not pass inputs whose source mutates
    before the plan executes.

    Returns (old_key, new_key, old_name, new_name).
    """
    # side 0 = old (deleted), side 1 = new (added)
    sides = deleted.select(
        F.lit(0).alias("side"), F.col(key).alias("key"),
        F.lower(F.col(name)).alias("name"),
    ).unionByName(added.select(
        F.lit(1).alias("side"), F.col(key).alias("key"),
        F.lower(F.col(name)).alias("name"),
    ))

    def words(s: Column) -> Column:
        return F.filter(F.split(s, WS_RE), lambda w: F.length(w) > min_token_len)

    def containers(subs) -> DataFrame:
        # labelled with the side whose needles probe them, so every
        # join below is on (side, gram) and never matches a name
        # against its own side
        return sides.select(
            (1 - F.col("side")).alias("side"),
            F.col("key").alias("ckey"), F.col("name").alias("cname"),
            F.explode(subs(F.col("name"))).alias("gram"),
        )

    grams = containers(_grams)
    freq = grams.groupBy("side", "gram").agg(F.count(F.lit(1)).alias("gfreq"))
    needles = sides.select(
        "side", "key", "name",
        F.explode(
            F.when(
                F.col("side") == 0,
                F.array_distinct(F.concat(F.array("name"), words(F.col("name")))),
            ).otherwise(F.array("name"))
        ).alias("needle"),
    )
    # min over the (gfreq, gram) struct is the argmin: struct order is
    # lexicographic, so ties on frequency break on the gram string
    rarest = (
        needles.where(F.length("needle") >= B)
        .select("*", F.explode(_grams(F.col("needle"))).alias("gram"))
        .join(freq, ["side", "gram"], "left")
        .groupBy("side", "key", "name", "needle")
        .agg(F.min(F.struct(
            F.coalesce("gfreq", F.lit(0)).alias("gfreq"), "gram"
        )).alias("r"))
        .where(F.col("r.gfreq") > 0)
        .select("side", "key", "name", "needle", F.col("r.gram").alias("gram"))
    )
    hits = rarest.join(grams, ["side", "gram"]).where(
        F.col("cname").contains(F.col("needle"))
    )
    hit_cols = ["side", "key", "name", "ckey", "cname"]
    lens = min_name_lens
    if lens is None:
        lens = (sides.agg(F.min(F.length("name"))).first()[0],)
    if min_token_len < B - 1 or any(n is not None and n < B for n in lens):
        hits = hits.select(hit_cols).unionByName(
            needles.where(F.length("needle") < B)
            .withColumnRenamed("needle", "gram")
            .join(containers(_short_subs), ["side", "gram"])
            .select(hit_cols)
        )
    # A pair found by several needles yields value-identical candidate
    # rows; the r_old row_number keeps one, so no distinct is needed.
    is_old = F.col("side") == 0
    cand = hits.select(
        F.when(is_old, F.col("key")).otherwise(F.col("ckey")).alias("old_key"),
        F.when(is_old, F.col("name")).otherwise(F.col("cname")).alias("old_name"),
        F.when(is_old, F.col("ckey")).otherwise(F.col("key")).alias("new_key"),
        F.when(is_old, F.col("cname")).otherwise(F.col("name")).alias("new_name"),
    )

    contains = F.col("new_name").contains(F.col("old_name")) | F.col(
        "old_name"
    ).contains(F.col("new_name"))
    token_hit = (F.length("old_name") > 10) & (F.length("new_name") > 10)
    old_toks = words(F.col("old_name"))
    if parity:
        # reference: count old tokens appearing anywhere in new_name
        shared = F.size(F.filter(old_toks, lambda w: F.col("new_name").contains(w)))
    else:
        shared = F.size(F.array_intersect(old_toks, words(F.col("new_name"))))
    matched = cand.where(contains | (token_hit & (shared > 0))).withColumn(
        "score", F.when(contains, F.lit(2)).otherwise(F.lit(1)) * (1 + shared)
    )

    w_old = Window.partitionBy("old_key").orderBy(
        F.desc("score"), F.asc("new_key")
    )
    w_new = Window.partitionBy("new_key").orderBy(
        F.desc("score"), F.asc("old_key")
    )
    return (
        matched.withColumn("r_old", F.row_number().over(w_old))
        .where(F.col("r_old") == 1)
        .withColumn("r_new", F.row_number().over(w_new))
        .where(F.col("r_new") == 1)
        .select("old_key", "new_key", "old_name", "new_name")
    )
