package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Set-similarity JOIN between two tables — entity resolution across
  * catalogs ("is brand A's `small ring ECONOMY` the same product as
  * brand B's?"), cross-corpus near-match linking, fuzzy key recovery
  * when the natural key is a name rather than an id.
  *
  * [[Dedup]] answers the SELF-join form of this question (near-dup
  * pairs within one corpus); this is the two-table form, and it gets a
  * different algorithm because the banding trick is probabilistic while
  * record linkage usually wants the EXACT threshold join: every pair
  * with Jaccard >= t, no recall knob. The classic exact plan is
  * prefix filtering (AllPairs / PPJoin family — Bayardo et al. WWW'07,
  * Xiao et al. WWW'08): under any global token order, if
  * J(A,B) >= t then the two records' rarest-token PREFIXES must share
  * a token, so an equi-join on prefix tokens is a complete candidate
  * generator, and it is cheapest exactly when the order is
  * ascending document frequency (rare tokens first — the prefix is the
  * part of the record least likely to collide).
  *
  * Why the prefix lemma holds (per-side prefix p(x) = |x| - ceil(t*|x|)
  * + 1): J(A,B) >= t forces |A∩B| >= t*|A∪B| >= ceil(t*max(|A|,|B|)).
  * Let c be the globally smallest common token. Within A, every token
  * ranked before c is not common, so c sits at position <=
  * |A| - |A∩B| + 1 <= p(A); same within B — c is in both prefixes.
  *
  * Everything is hash-space: tokens map through [[Hashing.hashP]] (the
  * portable md5 family), so similarity is Jaccard over distinct token
  * HASHES — the same contract every dedup operator here uses, exactly
  * reproducible in the DuckDB oracle.
  *
  * Scale shape (the 100 TB posture):
  *   - document frequencies = one explode + hash-aggregate over both
  *     sides (map-side combined);
  *   - per-record token sort + prefix slice happen inside a groupBy
  *     over the record id — bounded by record length, never a global
  *     sort or window;
  *   - candidates come from an equi-join on PREFIX tokens only; the
  *     frequency order makes hot tokens (stopwords) ineligible for
  *     most prefixes, which is the known fix for the hot-key blowup a
  *     naive shared-any-token block suffers;
  *   - a size filter (t*|A| <= |B| <= |A|/t, necessary for J >= t)
  *     prunes candidates before the verify join;
  *   - verify = two id equi-joins to fetch the sorted hash arrays plus
  *     one codegen'd merge-intersection ([[graft.functions.VectorExprs]]
  *     `sorted_intersect_count`) — no re-shingling, no explode.
  * No cross join exists anywhere in the plan at any threshold.
  */
object FuzzyJoin {

  /** All pairs (left_id, right_id, jaccard) with
    * J(tokens(left), tokens(right)) >= threshold. Token columns are
    * array&lt;string&gt;; ids must be long-castable and unique per side.
    * Empty token sets never match (J is undefined there).
    */
  def jaccardJoin(
      left: DataFrame, leftId: String, leftToks: String,
      right: DataFrame, rightId: String, rightToks: String,
      threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")

    // Each side's hashed-set frame is read three times (df counts,
    // prefix generation, verify fetch) and the df aggregate twice (one
    // prefix join per side): materialize both once so the corpus is
    // scanned and token-hashed exactly once per side — the
    // Dedup.minhashNearDups convention.
    val l = hashSets(left, leftId, leftToks).transform(Checkpoints.cut)
    val r = hashSets(right, rightId, rightToks).transform(Checkpoints.cut)

    // Global document frequency of every token hash across BOTH sides:
    // the shared total order that makes the two prefixes comparable.
    val dfc = l.select(explode(col("hs")).as("h"))
      .unionAll(r.select(explode(col("hs")).as("h")))
      .groupBy("h").agg(count(lit(1)).as("df"))
      .transform(Checkpoints.cut) // one prefix join per side

    val lp = prefixTokens(l, dfc, threshold)
      .select(col("id").as("left_id"), col("n").as("ln"), col("h"))
    val rp = prefixTokens(r, dfc, threshold)
      .select(col("id").as("right_id"), col("n").as("rn"), col("h"))

    // Candidate pairs: prefix-token equi-join + the size necessary
    // condition for J >= t (|A∩B| <= min sizes, |A∪B| >= max sizes).
    val cand = lp.join(rp, "h")
      .where(col("rn") >= col("ln") * threshold &&
        col("ln") >= col("rn") * threshold)
      .select("left_id", "right_id").distinct()

    // Verify: exact merge-intersection over the sorted hash arrays.
    val inter = graft.functions.VectorExprs.sortedIntersectCount(
      col("lhs"), col("rhs"))
    cand
      .join(l.select(col("id").as("left_id"), col("hs").as("lhs"),
        col("n").as("ln")), Seq("left_id"))
      .join(r.select(col("id").as("right_id"), col("hs").as("rhs"),
        col("n").as("rn")), Seq("right_id"))
      .withColumn("inter", inter)
      .withColumn("jaccard",
        col("inter").cast("double") /
          (col("ln") + col("rn") - col("inter")))
      .where(col("jaccard") >= threshold)
      .select(col("left_id"), col("right_id"), col("jaccard"))
  }

  /** Edit-distance JOIN: all pairs with levenshtein(left, right) <=
    * maxDist — the string-key form of record linkage (fuzzy key
    * recovery, typo-tolerant id matching), where Jaccard over tokens is
    * the wrong metric because a single-character typo is one EDIT but
    * can destroy a whole token.
    *
    * Candidate generation is the deletion-neighborhood method (FastSS,
    * Bocek et al. 2007 — the SymSpell "symmetric delete" scheme): if
    * ed(a, b) <= d then deleting at most d characters from each side
    * reaches a common string, so the up-to-d-deletion variant sets
    * intersect — an equi-join on variant hashes is a COMPLETE candidate
    * generator, and every candidate is verified with an exact
    * levenshtein before it can surface. No cross join at any d.
    *
    * Scale shape: the variant explode is a bounded ×O(L^d) row blowup
    * (L = string length — built for KEYS, not documents), the join is
    * one hash shuffle on the 64-bit variant hash (hash collisions cost
    * only a wasted verify, never a wrong pair), and payload strings
    * ride the candidate rows so verification is codegen'd projection —
    * no refetch join. A variant shared by many strings fans out
    * quadratically within its bucket — inherent to the method and
    * bounded by key-space density, the standard FastSS trade.
    */
  def editJoin(
      left: DataFrame, leftId: String, leftStr: String,
      right: DataFrame, rightId: String, rightStr: String,
      maxDist: Int): DataFrame = {
    require(maxDist >= 1 && maxDist <= 3,
      s"maxDist must be in [1, 3], got $maxDist")
    val lv = variantRows(left, leftId, leftStr, maxDist, "left_id", "ls")
    val rv = variantRows(right, rightId, rightStr, maxDist, "right_id", "rs")
    val dist = levenshtein(col("ls"), col("rs"))
    lv.join(rv, "vh")
      .select("left_id", "ls", "right_id", "rs").distinct()
      .withColumn("dist", dist)
      .where(col("dist") <= maxDist)
      .select(col("left_id"), col("right_id"), col("dist").cast("long"))
  }

  /** Set-CONTAINMENT join: all pairs with
    * C(A, B) = |A∩B| / |A| >= threshold — the ASYMMETRIC form of
    * [[jaccardJoin]]: "which right-side records contain (most of) this
    * left record?". This is template/boilerplate detection ("this
    * paragraph is embedded in that larger document"), entity
    * subsumption ("the short product name is contained in the long
    * listing"), and query-in-document matching — cases where Jaccard
    * fails because the CONTAINING side's extra tokens dilute the union.
    *
    * Exact algorithm (PRETTI-style probe of an inverted index with the
    * probe side's prefix): C >= t forces |A∩B| >= ceil(t·|A|), so
    * under any global token order the smallest common token sits in
    * A's first |A| − ceil(t·|A|) + 1 tokens (same argument as the
    * Jaccard prefix lemma — only A's side, because only |A| bounds the
    * overlap). Candidates = equi-join of A-PREFIX tokens against the
    * FULL inverted index of the right side; the order is ascending
    * document frequency measured over the RIGHT side (the index being
    * probed), so a probe prefix prefers tokens that are rare in the
    * index — tokens absent from the index entirely (df 0) sort first
    * and match nothing, which is the cheapest possible outcome.
    * The size necessary condition |B| >= ceil(t·|A|) prunes before
    * verification; verify is the exact codegen'd merge-intersection.
    * No cross join at any threshold; integer counts + one exact
    * integer-ratio division — no float contract.
    *
    * Unlike the symmetric join, the index side has NO prefix: a
    * containing document must be probed wherever the contained set's
    * rare tokens land. Hot probe tokens are mitigated by the df order,
    * not eliminated — the inherent containment-join trade (PRETTI,
    * Jampani & Pudi 2005).
    *
    * @return (left_id, right_id, containment) */
  def containmentJoin(
      left: DataFrame, leftId: String, leftToks: String,
      right: DataFrame, rightId: String, rightToks: String,
      threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    // each side is read by its prefix pass and the verify fetch
    val l = hashSets(left, leftId, leftToks).transform(Checkpoints.cut)
    val r = hashSets(right, rightId, rightToks).transform(Checkpoints.cut)
    // document frequency over the INDEX (right) side only; read once,
    // by the prefix join, so it is not cut
    val dfc = r.select(explode(col("hs")).as("h"))
      .groupBy("h").agg(count(lit(1)).as("df"))
    // A's prefix under the (df_right, h) order; df 0 for unseen tokens
    val p = (col("n") - ceil(col("n") * threshold) + 1).cast("int")
    val lp = l.select(col("id"), col("n"), explode(col("hs")).as("h"))
      .join(dfc, Seq("h"), "left")
      .withColumn("df", coalesce(col("df"), lit(0L)))
      .groupBy("id", "n")
      .agg(slice(array_sort(collect_list(struct(col("df"), col("h")))),
        lit(1), p).as("pref"))
      .select(col("id").as("left_id"), col("n").as("ln"),
        explode(col("pref.h")).as("h"))
    val rAll = r.select(col("id").as("right_id"), col("n").as("rn"),
      explode(col("hs")).as("h"))
    val cand = lp.join(rAll, "h")
      .where(col("rn") >= ceil(col("ln") * threshold))
      .select("left_id", "right_id").distinct()
    val inter = graft.functions.VectorExprs.sortedIntersectCount(
      col("lhs"), col("rhs"))
    cand
      .join(l.select(col("id").as("left_id"), col("hs").as("lhs"),
        col("n").as("ln")), Seq("left_id"))
      .join(r.select(col("id").as("right_id"), col("hs").as("rhs")),
        Seq("right_id"))
      .withColumn("inter", inter)
      .withColumn("containment",
        col("inter").cast("double") / col("ln").cast("double"))
      .where(col("containment") >= threshold)
      .select(col("left_id"), col("right_id"), col("containment"))
  }

  /** All strings reachable by deleting up to `d` characters (the
    * string itself included), deduplicated. */
  def deletionVariants(s: Column, d: Int): Column = {
    val del1 = (x: Column) => when(length(x) > 0,
        transform(sequence(lit(1), length(x)), i =>
          concat(x.substr(lit(1), i - 1), x.substr(i + 1, length(x) - i))))
      .otherwise(array().cast("array<string>"))
    var levels = Seq(array(s))
    var cur = array(s)
    (1 to d).foreach { _ =>
      cur = array_distinct(flatten(transform(cur, del1)))
      levels :+= cur
    }
    array_distinct(concat(levels: _*))
  }

  private def variantRows(df: DataFrame, id: String, str: String,
      d: Int, idOut: String, strOut: String) =
    df.select(col(id).cast("long").as(idOut), col(str).as(strOut))
      .select(col(idOut), col(strOut),
        explode(deletionVariants(col(strOut), d)).as("v"))
      .select(col(idOut), col(strOut), xxhash64(col("v")).as("vh"))

  /** (id, hs = sorted distinct token hashes, n = |hs|), empty sets
    * dropped. */
  private def hashSets(df: DataFrame, id: String, toks: String) =
    df.select(col(id).cast("long").as("id"),
        array_sort(array_distinct(transform(col(toks),
          t => Hashing.hashP(t)))).as("hs"))
      .withColumn("n", size(col("hs")))
      .where(col("n") > 0)

  /** Exploded prefix tokens (id, n, h): each record's
    * p = n - ceil(t*n) + 1 rarest tokens under the (df, h) order.
    * The sort and slice run inside a per-record groupBy — bounded by
    * record length. */
  private def prefixTokens(s: DataFrame, dfc: DataFrame, t: Double) = {
    val p = (col("n") - ceil(col("n") * t) + 1).cast("int")
    s.select(col("id"), col("n"), explode(col("hs")).as("h"))
      .join(dfc, "h")
      .groupBy("id", "n")
      .agg(slice(array_sort(collect_list(struct(col("df"), col("h")))),
        lit(1), p).as("pref"))
      .select(col("id"), col("n"), explode(col("pref.h")).as("h"))
  }
}
