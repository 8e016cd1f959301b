package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Refuse

/** X97 — association-rule mining at the pair level (Agrawal & Srikant
  * VLDB'94's Apriori, truncated where production basket analysis actually
  * operates): which items co-occur in a basket beyond chance, as
  * support / confidence / lift — the retail cross-sell staple, and the
  * same machinery curation pipelines point at (source, topic) or
  * (license, domain) co-occurrence. Pairs are where the signal and the
  * money are; higher-order itemsets fall out of re-running over
  * pair-merged pseudo-items — [[tripleRules]] ships exactly that, one
  * recursion deep.
  *
  * Exact integer contract: with N baskets, n_a = baskets containing a,
  * n_ab = baskets containing both —
  * support = n_ab·1e6 DIV N, confidence(a→b) = n_ab·1e6 DIV n_a,
  * lift = n_ab·N·1e6 DIV (n_a·n_b) (DECIMAL(38,0) product — n_ab·N
  * overflows Long at corpus scale), every division integral, every
  * engine bit-identical. Both rule directions are emitted (same support
  * and lift; confidence differs — that asymmetry is the point of
  * confidence).
  *
  * Scale shape: one basket-distinct pass (multiset→set: duplicate items
  * in one basket count once — the standard convention), one item-keyed
  * count, one basket-keyed self-join for pairs (fan-out = C(basket size,
  * 2) per basket — the X73/X90 density caveat: a degenerate mega-basket
  * is quadratic, and `maxBasketSize` REFUSES baskets past it rather than
  * silently stalling the stage), one pair-keyed count, map-side combine
  * everywhere. The support threshold prunes BEFORE the margin joins, so
  * only surviving pairs pay them. */
object Associations {

  def pairRules(baskets: DataFrame, basket: Column, item: Column,
      minSupportMicro: Long, maxBasketSize: Long = 10000L): DataFrame = {
    require(minSupportMicro >= 0 && minSupportMicro <= 1000000L,
      s"minSupportMicro must be in [0, 1e6], got $minSupportMicro")
    require(maxBasketSize >= 2, s"maxBasketSize must be >= 2, got $maxBasketSize")
    val b = baskets.select(basket.as("__b"), item.cast("string").as("__i"))
      .filter(col("__b").isNotNull && col("__i").isNotNull)
      .distinct()
    // one basket-keyed pass serves BOTH the size guard and the basket
    // count N — no second distinct+count shuffle over the basket frame
    val sizes = b.groupBy("__b").agg(count(lit(1)).as("__sz"))
    val probe = sizes.agg(count(lit(1)).as("__n"),
      max(col("__sz")).as("__mx")).collect()(0)
    val n = probe.getLong(0)
    require(n >= 1, "pairRules: no baskets after null/dup removal")
    if (probe.getLong(1) > maxBasketSize) {
      // failure path only: name one offender for the message
      val huge = sizes.filter(col("__sz") > maxBasketSize).limit(1).collect()
      require(huge.isEmpty,
        s"basket '${huge.headOption.map(_.get(0)).orNull}' exceeds " +
          s"maxBasketSize=$maxBasketSize — pair fan-out is quadratic in " +
          "basket size; split or cap upstream")
    }
    val itemN = b.groupBy("__i").agg(count(lit(1)).as("__ni"))
    val pairs = b.as("l").join(b.as("r"),
        col("l.__b") === col("r.__b") && col("l.__i") < col("r.__i"))
      .groupBy(col("l.__i").as("__a"), col("r.__i").as("__c"))
      .agg(count(lit(1)).as("__nab"))
      .filter(expr(s"__nab * 1000000 DIV ${n}L") >= minSupportMicro)
    // emit both directions; margins join AFTER the support prune
    val directed = pairs.select(col("__a"), col("__c"), col("__nab"))
      .unionAll(pairs.select(col("__c").as("__a"), col("__a").as("__c"),
        col("__nab")))
    directed
      .join(itemN.select(col("__i").as("__a"), col("__ni").as("__na")), "__a")
      .join(itemN.select(col("__i").as("__c"), col("__ni").as("__nc")), "__c")
      .select(col("__a").as("antecedent"), col("__c").as("consequent"),
        col("__nab").as("n_both"),
        expr(s"__nab * 1000000 DIV ${n}L").as("support_micro"),
        expr("__nab * 1000000 DIV __na").as("confidence_micro"),
        expr(s"CAST(CAST(__nab AS DECIMAL(38,0)) * ${n}L * 1000000 " +
          "DIV (CAST(__na AS DECIMAL(38,0)) * __nc) AS BIGINT)")
          .as("lift_micro"))
  }

  /** Higher-order (triple) rules by the pseudo-item extension the class
    * doc reserves: every SUPPORTED pair {a,b} becomes one merged item
    * "a{sep}b" in each basket containing both, the augmented baskets
    * re-run through [[pairRules]] UNCHANGED, and the rules read off as
    * ({a,b} → c) — support = n_abc·1e6 DIV N, confidence =
    * n_abc·1e6 DIV n_ab (the pseudo-item's margin IS the pair count),
    * lift against n_c — the same exact-integer contract, one recursion
    * deep (Agrawal & Srikant's Apriori level-wise idea with the
    * candidate join expressed as item merging).
    *
    * The stage-1 support prune is the Apriori monotonicity cut: only
    * pairs ≥ minSupport become pseudo-items, so the stage-2 self-join's
    * fan-out is C(k + supported-pairs-in-basket, 2), not C(k + C(k,2),
    * 2) — and `maxBasketSize` bounds the AUGMENTED basket. Rules with
    * the consequent inside the antecedent pair ("{a,b} → a", trivially
    * confidence 1) and pseudo-pseudo pairs are filtered AFTER scoring —
    * they are genuine pairRules outputs, just not triple rules. Items
    * containing `sep` are REFUSED (the pseudo-item encoding must be
    * injective).
    *
    * Output: `(antecedent_a, antecedent_b, consequent, n_both,
    * support_micro, confidence_micro, lift_micro)` with
    * antecedent_a < antecedent_b. */
  def tripleRules(baskets: DataFrame, basket: Column, item: Column,
      minSupportMicro: Long, maxBasketSize: Long = 10000L,
      sep: String = "+", checkpointDir: Option[String] = None): DataFrame = {
    require(sep.nonEmpty, "sep must be non-empty")
    // the basket frame feeds BOTH Apriori stages and appears several
    // times in the final plan tree (stage-1 pairs/margins, the pseudo
    // self-join, the augmented union, stage-2's own passes); Spark does
    // not dedupe common subplans, so without a materialization the
    // upstream joins re-execute once per appearance — localCheckpoint
    // pays one write and every appearance scans the materialized frame
    // (q255 measured 16 s → join-bound before this, the q135 shared-
    // artifact lesson applied inside one operator). The materialization
    // strategy is caller-selected (the X32/X105 knob): localCheckpoint
    // on local[n] / fail-fast clusters, a reliable checkpoint dir when
    // losing an executor mid-mine must not kill the job — localCheckpoint
    // stores blocks ON executors and truncates lineage, so on a real
    // cluster one lost executor would otherwise be unrecoverable.
    // the eager materialization reads every row, so the separator
    // refusal fires in it
    val b = graft.core.Checkpointing.truncate(
      Refuse.rows(baskets.select(basket.as("__b"), item.cast("string").as("__i"))
        .filter(col("__b").isNotNull && col("__i").isNotNull)
        .distinct(),
        col("__i").contains(sep) -> concat(lit("item '"), col("__i"),
          lit(s"' contains the pseudo-item separator '$sep' — pass a sep " +
            "outside the item domain"))),
      eager = true, reliableDir = checkpointDir)
    // stage 1: supported pairs, one direction (the Apriori L2 cut)
    val supported = pairRules(b, col("__b"), col("__i"), minSupportMicro,
        maxBasketSize)
      .filter(col("antecedent") < col("consequent"))
      .select(col("antecedent").as("__pa"), col("consequent").as("__pc"))
    // augmented baskets: originals + one pseudo-item per supported pair
    val pseudo = b.as("l").join(b.as("r"),
        col("l.__b") === col("r.__b") && col("l.__i") < col("r.__i"))
      .select(col("l.__b").as("__b"), col("l.__i").as("__pa"),
        col("r.__i").as("__pc"))
      .join(supported, Seq("__pa", "__pc"))
      .select(col("__b"), concat(col("__pa"), lit(sep), col("__pc")).as("__i"))
    // same subplan-duplication argument one level up: the augmented frame
    // appears in stage-2's size probe, margins, and BOTH self-join sides,
    // and every appearance would otherwise re-run stage 1 (the pseudo
    // side nests the full supported-pair plan)
    val augmented = graft.core.Checkpointing.truncate(
      b.unionByName(pseudo), eager = true, reliableDir = checkpointDir)
    pairRules(augmented, col("__b"), col("__i"), minSupportMicro,
        maxBasketSize)
      .filter(col("antecedent").contains(sep) &&
        !col("consequent").contains(sep))
      .select(
        substring_index(col("antecedent"), sep, 1).as("antecedent_a"),
        substring_index(col("antecedent"), sep, -1).as("antecedent_b"),
        col("consequent"), col("n_both"), col("support_micro"),
        col("confidence_micro"), col("lift_micro"))
      .filter(col("consequent") =!= col("antecedent_a") &&
        col("consequent") =!= col("antecedent_b"))
  }

  /** X107 — exact segment-overlap matrix: pairwise audience overlap
    * between member sets — "how much of segment A is also in B" — the
    * campaign-dedup / audience-planning primitive ([[pairRules]] scores
    * RULES between items inside baskets; this scores the SETS
    * themselves, and X39's KMV answers the same question approximately
    * when segments are corpus-sized). One row per unordered pair with
    * the full coefficient family, all exact integers:
    * `jaccard = n_ab·1e6 DIV (n_a + n_b − n_ab)`, containment in BOTH
    * directions (`n_ab·1e6 DIV n_a`, `DIV n_b` — the asymmetry is the
    * point: a niche segment can sit entirely inside a broad one), and
    * the co-occurrence lift against independence over the member
    * universe (the X97 DECIMAL(38,0) product).
    *
    * Scale shape: one (segment, member) distinct pass, one member-keyed
    * SELF-join for pair counts (fan-out C(segments-per-member, 2) —
    * `maxSegsPerMember` REFUSES members tagged into everything, the
    * X97 mega-basket stance), one segment-keyed margin count, margins
    * joined onto the pair-sized frame. Members in exactly one segment
    * contribute margins only. NULL segments/members drop. */
  def segmentOverlap(df: DataFrame, segment: Column, member: Column,
      maxSegsPerMember: Long = 1000L): DataFrame = {
    require(maxSegsPerMember >= 2,
      s"maxSegsPerMember must be >= 2, got $maxSegsPerMember")
    val b = df.select(segment.cast("string").as("__s"), member.as("__m"))
      .filter(col("__s").isNotNull && col("__m").isNotNull)
      .distinct()
    val sizes = b.groupBy("__m").agg(count(lit(1)).as("__k"))
    val probe = sizes.agg(count(lit(1)).as("__u"),
      max(col("__k")).as("__mx")).collect()(0)
    val universe = probe.getLong(0)
    require(universe >= 1, "segmentOverlap: no members after null removal")
    if (probe.getLong(1) > maxSegsPerMember) {
      val huge = sizes.filter(col("__k") > maxSegsPerMember)
        .limit(1).collect()
      require(huge.isEmpty,
        s"member '${huge.headOption.map(_.get(0)).orNull}' sits in more " +
          s"than $maxSegsPerMember segments — pair fan-out is quadratic " +
          "in tags per member; cap upstream")
    }
    val margins = b.groupBy("__s").agg(count(lit(1)).as("__n"))
    b.as("l").join(b.as("r"),
        col("l.__m") === col("r.__m") && col("l.__s") < col("r.__s"))
      .groupBy(col("l.__s").as("seg_a"), col("r.__s").as("seg_b"))
      .agg(count(lit(1)).as("n_both"))
      .join(margins.select(col("__s").as("seg_a"), col("__n").as("n_a")),
        "seg_a")
      .join(margins.select(col("__s").as("seg_b"), col("__n").as("n_b")),
        "seg_b")
      .select(col("seg_a"), col("seg_b"), col("n_a"), col("n_b"),
        col("n_both"),
        expr("n_both * 1000000 DIV (n_a + n_b - n_both)")
          .as("jaccard_micro"),
        expr("n_both * 1000000 DIV n_a").as("containment_a_micro"),
        expr("n_both * 1000000 DIV n_b").as("containment_b_micro"),
        expr(s"CAST(CAST(n_both AS DECIMAL(38,0)) * ${universe}L * " +
          "1000000 DIV (CAST(n_a AS DECIMAL(38,0)) * n_b) AS BIGINT)")
          .as("lift_micro"))
  }
}
