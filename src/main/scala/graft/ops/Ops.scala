package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DecimalType}

import graft.core.Refuse

/** The reference's transformation vocabulary (README.md:11-17: "filtering,
  * calculating new columns, formatting columns, regex extraction, ...,
  * joining tables together") as composable, purely-declarative
  * `DataFrame => DataFrame` stages. Everything here stays inside Catalyst —
  * no UDFs, no collects — so predicate pushdown, column pruning and
  * whole-stage codegen apply end to end.
  */
object Ops {

  implicit class DataFrameOps(private val df: DataFrame) extends AnyVal {

    /** P1 — keep-list projection, discarding other columns (README.md:102-122). */
    def keep(columns: String*): DataFrame = df.select(columns.map(col): _*)

    /** P2 — computed/derived column (README.md:70-71: `df["c3"] = df["c1"] + df["c2"]`).
      * Schema derivation (README.md:73-77) is automatic: the plan's output
      * schema simply gains the column. */
    def derive(name: String, expression: Column): DataFrame =
      df.withColumn(name, expression)

    /** P3 — row filtering (README.md:13). Pushed into the parquet scan. */
    def filterRows(condition: Column): DataFrame = df.filter(condition)

    /** P4 — in-place column formatting (README.md:15): pass trim/upper/
      * to_date/format_string/... as the transform. */
    def formatCol(name: String)(f: Column => Column): DataFrame =
      df.withColumn(name, f(col(name)))

    /** P5 — regex extraction into a new column (README.md:16). */
    def regexExtract(target: String, source: Column, pattern: String, group: Int = 1): DataFrame =
      df.withColumn(target, regexp_extract(source, pattern, group))

    /** P6 — rename columns (the reference's dtype-list manipulation idiom,
      * README.md:104-113). */
    def renamed(renames: (String, String)*): DataFrame =
      renames.foldLeft(df) { case (d, (from, to)) => d.withColumnRenamed(from, to) }

    /** P7 — type cast (the reference gets this implicitly from pandas
      * `to_sql`, dataset.py:189-193). */
    def castCol(name: String, to: DataType): DataFrame =
      df.withColumn(name, col(name).cast(to))

    /** J1/J2 — equi-join on shared key names with merged output schema: the
      * key columns appear once, and right-side columns whose names collide
      * with left-side non-key columns are dropped (first-wins), exactly the
      * `merge_dtype` dedup the reference README prescribes for join outputs
      * (README.md:149-153, 159-164).
      *
      * Scale: plain declarative join — Catalyst/AQE picks broadcast-hash vs
      * sort-merge; pass `broadcast(dimDf)` as `other` to force the hint. */
    def joinMerged(other: DataFrame, keys: Seq[String], how: String = "inner"): DataFrame = {
      val dupes = other.columns.toSet.intersect(df.columns.toSet) -- keys.toSet
      df.join(dupes.foldLeft(other)(_.drop(_)), keys, how)
    }

    /** L2 — deterministic top-k: global order + limit. Catalyst plans this as
      * `TakeOrderedAndProject` (per-partition heaps + driver merge), so no
      * global sort materializes even at scale. */
    def topK(k: Int, ordering: Column*): DataFrame =
      df.orderBy(ordering: _*).limit(k)

    /** §2.6 — union by column name, tolerating column-order drift. */
    def unionMerged(other: DataFrame): DataFrame =
      df.unionByName(other, allowMissingColumns = false)

    /** Deterministic hash sampling: keep rows where
      * `xxhash64(key) mod denominator < numerator`. Unlike `df.sample()`
      * (seeded RNG over partition layout), the decision is a pure function
      * of the key — stable across runs, cluster sizes, and repartitioning,
      * which is what training-data mixture weights need for reproducibility.
      * Consistent across tables too: sampling users at 10% here and their
      * events at 10% elsewhere keeps the SAME users. */
    def hashSample(key: Column, numerator: Int, denominator: Int): DataFrame = {
      require(numerator >= 0 && denominator > 0 && numerator <= denominator,
        s"need 0 <= numerator <= denominator, got $numerator/$denominator")
      df.filter(pmod(xxhash64(key), lit(denominator)) < numerator)
    }

    /** Skew-resistant equi-join for when one key dominates (the classic
      * hot-key salt): the large skewed side gets a deterministic salt in
      * [0, buckets), the small side is replicated `buckets`× with every
      * salt, and the join runs on (key, salt) — one hot key spreads over
      * `buckets` tasks instead of one straggler. AQE's skew-join handles
      * moderate skew automatically; explicit salting is for the pathological
      * key that exceeds a single executor. Semantics = inner join on `key`
      * (this side may hold duplicates; `other` is replicated, so its rows
      * must be unique per key — the dimension side).
      *
      * `saltOn` picks the columns the salt is hashed from; pass a UNIQUE
      * column (a serial id) when one exists. The default hashes the whole
      * row, which is retry-safe but has a documented LIMITATION: fully
      * identical duplicate rows — the canonical hot-key case, e.g. millions
      * of identical boilerplate docs — all hash to ONE salt bucket, so the
      * skew survives. Only a row-distinguishing column breaks that tie. */
    def saltedJoin(other: DataFrame, key: String, buckets: Int,
        saltOn: Seq[Column] = Nil): DataFrame = {
      require(buckets > 0, s"buckets must be positive, got $buckets")
      // Salt from deterministic row content, NOT monotonically_increasing_id:
      // a nondeterministic expression feeding a shuffle means a retried task
      // can re-salt rows into different partitions (rows duplicated or lost
      // on shuffle-fetch retry). Hashing row content is reproducible on
      // re-execution.
      val saltSrc = if (saltOn.nonEmpty) saltOn else df.columns.map(col).toSeq
      val salted = df.withColumn("__salt",
        pmod(xxhash64(saltSrc: _*), lit(buckets)))
      val replicated = other.withColumn("__salt",
        explode(sequence(lit(0), lit(buckets - 1)).cast("array<long>")))
      salted.join(replicated, Seq(key, "__salt")).drop("__salt")
    }
  }

  /** X49 — runtime Bloom-pruned shuffle join: probe a sketch of the small
    * side's KEY SET before the big side ever reaches the exchange.
    *
    * The gap it fills: a selective equi-join's dominant 100 TB cost is
    * shuffling the big side — including every row that will never match.
    * When the small side fits memory, broadcast solves it; when the small
    * side is too big to broadcast but its key set sketches into a few MB
    * (millions of keys at 1% fpp), this is the remaining move: ONE
    * partial-aggregated pass builds a Bloom filter of `xxhash64(keys)`
    * ([[graft.dedup.Dedup.bloomKeyState]]), and the big side filters
    * through the codegen'd [[graft.functions.BloomMightContain]] predicate
    * BELOW its shuffle — shuffled bytes drop by the join's selectivity.
    * This is Spark's own runtime-bloom rewrite surfaced as an explicit,
    * composable operator (the optimizer's version only fires under size
    * heuristics; a pipeline that KNOWS its join is selective shouldn't
    * gamble on them).
    *
    * Exactness: a Bloom "no" is definitive, so no match is ever lost; a
    * false-positive "yes" just rides to the join and falls out there —
    * the result is row-identical to the plain join. That argument needs
    * every pruned-away row to be absent from the OUTPUT, which holds for
    * inner and left-semi joins only — an outer flavor would owe
    * null-extended rows for pruned keys, so anything else is refused.
    * `expectedItems` sizes the sketch (overshoot costs bits, undershoot
    * costs fpp — at 10× overload fpp degrades roughly exponentially). */
  def bloomPrunedJoin(big: DataFrame, small: DataFrame, keys: Seq[String],
      expectedItems: Long, fpp: Double = 0.01,
      joinType: String = "inner"): DataFrame = {
    require(keys.nonEmpty, "bloomPrunedJoin needs at least one key column")
    val jt = joinType.toLowerCase.replace("_", "")
    require(jt == "inner" || jt == "leftsemi" || jt == "semi",
      s"bloomPrunedJoin is exact for inner/left_semi only (an outer join " +
        s"owes null-extended rows for pruned keys), got '$joinType'")
    val missing = keys.filterNot(k =>
      big.columns.contains(k) && small.columns.contains(k))
    require(missing.isEmpty,
      s"key column(s) must exist on both sides: ${missing.mkString(",")}")
    // The sketch stores xxhash64 of the SMALL side's key and is probed with
    // xxhash64 of the BIG side's key. Spark hashes IntegerType and LongType
    // (etc.) to different values, so a type mismatch a plain join would
    // silently coerce makes every probe a definitive Bloom "no" and drops
    // ALL matches. Refuse rather than coerce: the caller should align types
    // explicitly so the downstream equi-join hashes the same values too.
    val typeMismatch = keys.flatMap { k =>
      val bt = big.schema(k).dataType
      val st = small.schema(k).dataType
      if (bt != st) Some(s"$k: big=${bt.simpleString} small=${st.simpleString}")
      else None
    }
    require(typeMismatch.isEmpty,
      s"key dataType(s) differ between sides — xxhash64 hashes e.g. int and " +
        s"bigint differently, so the Bloom probe would prune every match; " +
        s"cast both sides to a common type first: ${typeMismatch.mkString("; ")}")
    graft.functions.GraftFunctions.register(big.sparkSession)
    val bytes = graft.dedup.Dedup.bloomKeyState(small, keys, expectedItems, fpp)
    big.filter(graft.functions.GraftFunctions.bloomMightContain(
        xxhash64(keys.map(col): _*), bytes))
      .join(small, keys, joinType)
  }

  /** X78 — skew-differentiated join: detect the heavy-hitter keys, join
    * them via broadcast, and shuffle-join only the light remainder — the
    * explicit form of the production skew pattern [[DataFrameOps
    * .saltedJoin]] (J6) approximates by salting EVERYTHING.
    *
    * The gap it fills at 100 TB: one key holding 1% of a 100 TB join
    * side is a 1 TB shuffle partition — a straggler task (or an OOM) no
    * uniform `spark.sql.shuffle.partitions` setting fixes. AQE's skew
    * join mitigates by splitting oversized PARTITIONS of a sort-merge
    * join at runtime, but it only fires under size heuristics, only for
    * sort-merge, and still pays the exchange for every heavy row. The
    * differentiated form removes heavy keys from the exchange entirely:
    * ONE map-side-combinable aggregation finds keys with more than
    * `heavyCountThreshold` big-side rows (the heavy frame is bounded by
    * construction: ≤ |big| / threshold keys — an aggregate-sized action
    * checks it against `maxHeavyKeys` and refuses a threshold so low the
    * "heavy" set stops being broadcastable); the big side splits by one
    * broadcast semi/anti pair (map-only, no shuffle); the heavy branch
    * joins `broadcast(small's heavy-key rows)` — heavy keys never enter
    * an exchange on EITHER side — while the light branch takes the plain
    * shuffle join, now free of stragglers. Both branches' plan shapes
    * are pinned in `OpsSpec`.
    *
    * Exactness: the split PARTITIONS the big side (semi ∪ anti, disjoint
    * by key), so any join flavor whose output rows each derive from
    * exactly one big-side row re-assembles losslessly from the two
    * branches — inner and left_outer. A right/full join owes
    * null-extended SMALL rows, which neither branch alone can decide;
    * refused. Filtering the small side to heavy keys in the broadcast
    * branch (and away from them in the light branch) drops only rows
    * whose keys cannot match that branch's big rows. The result is
    * row-identical to the plain join, which is how q224 and the spec
    * check it. */
  def skewSplitJoin(big: DataFrame, small: DataFrame, keys: Seq[String],
      heavyCountThreshold: Long, joinType: String = "inner",
      maxHeavyKeys: Long = 100000L): DataFrame = {
    require(keys.nonEmpty, "skewSplitJoin needs at least one key column")
    require(heavyCountThreshold > 0,
      s"heavyCountThreshold must be positive, got $heavyCountThreshold")
    require(maxHeavyKeys > 0, s"maxHeavyKeys must be positive, got $maxHeavyKeys")
    val jt = joinType.toLowerCase.replace("_", "")
    require(jt == "inner" || jt == "left" || jt == "leftouter",
      s"the split partitions the BIG side, so only join flavors whose " +
        s"output derives row-by-row from one big row split soundly " +
        s"(inner, left_outer); a right/full join owes null-extended small " +
        s"rows neither branch can decide alone — got '$joinType'")
    val missing = keys.filterNot(k =>
      big.columns.contains(k) && small.columns.contains(k))
    require(missing.isEmpty,
      s"key column(s) must exist on both sides: ${missing.mkString(",")}")
    val heavy = big.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") > heavyCountThreshold)
      .select(keys.map(col): _*)
    val nHeavy = heavy.count()
    require(nHeavy <= maxHeavyKeys,
      s"$nHeavy keys exceed heavyCountThreshold=$heavyCountThreshold — " +
        s"that is not a skew tail, it is the key distribution; raise the " +
        s"threshold (broadcasting $nHeavy keys' small-side rows would " +
        s"not fit) or use saltedJoin")
    val bigL = big.join(broadcast(heavy), keys, "left_anti")
    val bigH = big.join(broadcast(heavy), keys, "left_semi")
    val smallL = small.join(broadcast(heavy), keys, "left_anti")
    val smallH = small.join(broadcast(heavy), keys, "left_semi")
    bigL.join(smallL, keys, joinType)
      .unionByName(bigH.join(broadcast(smallH), keys, joinType))
  }

  /** X92 — exact per-group percentiles by nearest rank: the SLA/latency
    * report number (P50/P95/P99 per endpoint, per tenant, per model) in
    * its EXACT form — the KLL sketch (X27) answers the same question
    * approximately and mergeably for dashboards; an SLA breach review and
    * a cross-engine gate need the exact order statistic, and "exact" is
    * precisely what `percentile_approx` never promises. Nearest-rank
    * definition: P(q) = the value at rank ⌈q·n⌉ (min 1) of the group's
    * sorted values — always a value IN the data, no interpolation to
    * diverge on, deterministic under ties (the k-th smallest of a
    * multiset does not depend on tie order).
    *
    * Scale shape: ONE keyed window (row_number + count over the group
    * sort — a single shuffle/sort on `groups`) and one aggregation that
    * picks each requested rank with a conditional max — no per-quantile
    * pass, no collect. Per-group sorts are the X51 bound: a group's rows
    * must fit a partition's sort budget (spill-backed); for corpus-sized
    * single groups use the KLL sketch instead — that trade IS the
    * difference between the two operators. NULL values are excluded from
    * rank and count (SQL aggregate semantics); groups of only-NULL
    * values vanish. */
  def exactPercentiles(df: DataFrame, groups: Seq[String], value: Column,
      qs: Seq[(String, Long)]): DataFrame = {
    require(qs.nonEmpty, "exactPercentiles needs at least one quantile")
    qs.foreach { case (name, q) =>
      require(q > 0 && q <= 1000000L,
        s"quantile $name must be in (0, 1e6] micros, got $q") }
    require(qs.map(_._1).distinct.size == qs.size,
      s"duplicate output names: ${qs.map(_._1)}")
    val base = df.select(groups.map(col) :+ value.cast("long").as("__v"): _*)
      .filter(col("__v").isNotNull)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groups.map(col): _*).orderBy(col("__v"))
    val ranked = base
      .withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(groups.map(col): _*)))
    val aggs = count(lit(1)).as("n") +: qs.map { case (name, q) =>
      // rank = ceil(q·n / 1e6), floored at 1 — exact integer ceiling
      max(when(col("__rn") ===
        greatest(lit(1L), expr(s"($q * __n + 999999) DIV 1000000")),
        col("__v"))).as(name)
    }
    ranked.groupBy(groups.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** X88 — key-skew profiler: the measurement half of the skew toolkit
    * ([[skewSplitJoin]] and [[DataFrameOps.saltedJoin]] are the cures;
    * this is the diagnosis, and the number their thresholds are chosen
    * FROM). For a prospective join/aggregation key it reports the top-K
    * heavy hitters with exact shares, cumulative concentration, and each
    * key's multiple of the uniform share — "key 0 holds 30.6% of the
    * rows, 612× its uniform share" is precisely the sentence that decides
    * between a plain join, a salt factor, and a heavy-key split.
    *
    * Scale shape: ONE key-count aggregation with map-side combine (the
    * same pass [[skewSplitJoin]]'s detector runs), one bounded top-K
    * (`orderBy.limit(k)` over the key-sized count frame — the global
    * top-k L2 uses), one 1-row totals aggregate broadcast onto the K
    * rows, and a K-row window for the cumulative share. Nothing
    * corpus-sized crosses the shuffle twice; no driver state beyond the
    * K-row result.
    *
    * Output, one row per top key by (count desc, key asc):
    * `(rank, key, n, share_micro, cum_share_micro, vs_uniform_micro,
    * n_rows, n_keys)` — all exact integers (shares floor micros;
    * vs_uniform = share·n_keys, i.e. 1e6 = exactly uniform). NULL keys
    * count as a real group — at 100 TB the NULL key is the most common
    * heavy hitter there is; it surfaces here as the string "(null)". */
  def skewProfile(df: DataFrame, key: Column, topK: Int = 10): DataFrame = {
    require(topK >= 1 && topK <= 10000, s"topK must be in [1, 1e4], got $topK")
    val counts = df.select(coalesce(key.cast("string"), lit("(null)"))
        .as("key"))
      .groupBy("key").agg(count(lit(1)).as("n"))
    val totals = counts.agg(sum(col("n")).as("__rows"),
      count(lit(1)).as("n_keys"))
    val top = counts.orderBy(desc("n"), col("key")).limit(topK)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(desc("n"), col("key"))
    top.crossJoin(broadcast(totals))
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("__cum", sum(col("n")).over(w.rowsBetween(Long.MinValue, 0)))
      .withColumn("share_micro", expr("n * 1000000 DIV __rows"))
      .withColumn("cum_share_micro", expr("__cum * 1000000 DIV __rows"))
      // floor-composed (share is already exact micros): n·1e6·n_keys DIV
      // rows would overflow Long at billions of keys, and the composed
      // form is off by < n_keys µ — noise at the "is this 600× uniform"
      // altitude this number is read at
      .withColumn("vs_uniform_micro", expr("share_micro * n_keys"))
      .select(col("rank"), col("key"), col("n"), col("share_micro"),
        col("cum_share_micro"), col("vs_uniform_micro"),
        col("__rows").as("n_rows"), col("n_keys"))
  }

  /** SCD-1 upsert (MERGE): rows of `updates` replace same-key rows of
    * `base`; update keys absent from base are plain inserts. The reference
    * refreshes datasets by full replace (dataset.py's `to_sql` replace
    * idiom); at 100 TB the incremental shape is this merge. Schemas must
    * match by name. `updates` must be key-unique — dedupe upstream (e.g.
    * `Dedup.exactKeepFirst`) — otherwise its duplicates all survive.
    *
    * Scale: one anti-join keyed on `keys` — Catalyst/AQE broadcasts the
    * updates side when it is small (the overwhelmingly common case: a day's
    * delta against a corpus), making this a zero-shuffle map over base;
    * otherwise both sides shuffle once on the key. No window, no global
    * ordering. */
  def upsert(base: DataFrame, updates: DataFrame, keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "upsert needs at least one key column")
    require(base.columns.sorted.sameElements(updates.columns.sorted),
      s"schema mismatch: base ${base.columns.sorted.mkString(",")} vs " +
        s"updates ${updates.columns.sorted.mkString(",")}")
    val missing = keys.filterNot(base.columns.contains)
    require(missing.isEmpty, s"key column(s) not in schema: ${missing.mkString(",")}")
    updates.unionByName(
        base.join(updates.select(keys.map(col): _*), keys, "left_anti"))
      // present base's column order regardless of how updates was built
      .select(base.columns.toIndexedSeq.map(col): _*)
  }

  /** X50 — CDC change-log apply: compact an ordered insert/update/delete
    * log (the Debezium/binlog shape) and merge it into `base` — the
    * operator between [[upsert]] (no deletes, pre-compacted deltas) and a
    * full table format's MERGE.
    *
    * `log` carries `base`'s columns plus `seqCol` (per-key ordering —
    * a binlog position / LSN) and `opCol` ('I'/'U'/'D', case-insensitive;
    * D rows' payload may be null). Per key, the HIGHEST-seq op wins
    * (I and U both mean "this is the row now" — idempotent apply); a
    * winning D removes the key, anything else upserts it, and base keys
    * the log never mentions pass through untouched.
    *
    * Scale shape: the compaction window shuffles only the LOG (delta-
    * sized, never the table); base is then touched by ONE left-anti join
    * on the compacted keys — AQE broadcasts them for the common
    * small-delta case, making the whole apply a zero-shuffle map over
    * base. Determinism: the window orders by (seq DESC, op, payload), so
    * even a log with duplicated seqs — malformed but survivable —
    * compacts identically under retries and re-partitionings. */
  def cdcApply(base: DataFrame, log: DataFrame, keys: Seq[String],
      seqCol: String, opCol: String): DataFrame = {
    require(keys.nonEmpty, "cdcApply needs at least one key column")
    val missingB = keys.filterNot(base.columns.contains)
    require(missingB.isEmpty, s"key column(s) not in base: ${missingB.mkString(",")}")
    val missingL = (keys :+ seqCol :+ opCol).filterNot(log.columns.contains)
    require(missingL.isEmpty, s"column(s) not in log: ${missingL.mkString(",")}")
    val missingP = base.columns.filterNot(log.columns.contains)
    require(missingP.isEmpty,
      s"log must carry every base column; missing: ${missingP.mkString(",")}")
    // in-plan malformed-row refusal: an unknown/NULL op or a NULL key
    // component is a producer bug the apply must not silently
    // reinterpret. A NULL op would otherwise sort NULLS FIRST in the
    // window (winning the compaction), then evaluate to NULL in the
    // delete filter — the key silently vanishes; a NULL key row can never
    // be matched by the equality anti-join, so repeated applies would
    // keep appending unreachable rows. Both branches of the result read
    // the whole log through the compaction window, so the refusal fires
    // on any read.
    val nullKey = keys.map(col(_).isNull).reduce(_ || _)
    val checked = Refuse.rows(log, (col(opCol).isNull ||
        !upper(col(opCol)).isin("I", "U", "D") || nullKey) ->
      concat(lit("malformed CDC log row (op '"), Refuse.show(col(opCol)),
        lit("', keys "), concat_ws(",", keys.map(k => Refuse.show(col(k))): _*),
        lit("): op must be I/U/D and keys non-null")))
    val payload = base.columns.filterNot(keys.contains).toIndexedSeq
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
      .orderBy(col(seqCol).desc +: upper(col(opCol)).asc +:
        payload.map(c => col(c).cast("string").asc): _*)
    val last = checked.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
    val untouched = base.join(last.select(keys.map(col): _*), keys, "left_anti")
    val upserts = last.filter(upper(col(opCol)) =!= "D")
      .select(base.columns.toIndexedSeq.map(col): _*)
    untouched.unionByName(upserts)
      .select(base.columns.toIndexedSeq.map(col): _*)
  }

  /** SCD-2 merge (history-keeping upsert): where [[upsert]] overwrites,
    * this VERSIONS. `history` rows carry [`validFrom`, `validTo`) validity
    * intervals with `validTo` NULL on current rows; `delta` carries the new
    * version of each changed key, effective at its `validFrom`. The merge:
    *
    *   - a current row whose key appears in the delta closes out
    *     (`validTo` := the delta row's `validFrom`);
    *   - every delta row appends as the new current version (`validTo`
    *     NULL);
    *   - closed (historical) rows and unmatched current rows pass through.
    *
    * The result stays point-in-time queryable (as-of lookups via
    * [[TemporalJoins.asofJoin]] or a validity-interval filter) — the
    * warehouse dimension-history idiom the reference's full-replace refresh
    * cannot express.
    *
    * `delta` must have exactly `history`'s columns minus `validTo`, be
    * key-unique (duplicate delta keys would mint two open versions), and
    * each delta row's `validFrom` must be strictly AFTER the matched
    * current row's `validFrom` (an out-of-order delta would close the
    * current row with an inverted [from, to) interval, silently breaking
    * point-in-time lookups). Both rules are refusals in the plan, checked
    * on every merge: the duplicate-key count is one key-partitioned
    * window over delta, and the interval order is checked on the rows of
    * the merge's own keyed join, so neither costs a job of its own; they
    * fire when an action reads the result. Scale: ONE broadcast-able left
    * join keyed on `keys` over the current slice, historical rows stream
    * through untouched — no global ordering; the common small-delta
    * refresh is a map over history plus the delta-sized window. */
  def scd2Merge(history: DataFrame, delta: DataFrame, keys: Seq[String],
      validFrom: String = "valid_from", validTo: String = "valid_to"): DataFrame = {
    require(keys.nonEmpty, "scd2Merge needs at least one key column")
    require(history.columns.contains(validFrom) && history.columns.contains(validTo),
      s"history must carry $validFrom and $validTo")
    require(delta.columns.sorted.sameElements(
        history.columns.filterNot(_ == validTo).sorted),
      s"delta must have history's columns minus $validTo: " +
        s"got ${delta.columns.sorted.mkString(",")}")
    val toType = history.schema(validTo).dataType
    val keyList = concat_ws(",", keys.map(k => concat(lit(s"$k="), Refuse.show(col(k)))): _*)
    val checked = Refuse.rows(
        delta.withColumn("__n", count(lit(1)).over(Window.partitionBy(keys.map(col): _*))),
        (col("__n") > 1) -> concat(
          lit("scd2Merge: delta has duplicate key(s), e.g. "), keyList))
      .drop("__n")
    val closeTimes = checked.select(
      keys.map(col) :+ col(validFrom).as("__close_at"): _*)
    // broadcast decision left to AQE (same as upsert): the common small
    // delta broadcasts and history never shuffles; a restatement too big to
    // broadcast degrades to a shuffle join instead of failing the build
    val current = Refuse.rows(history.filter(col(validTo).isNull)
        .join(closeTimes, keys, "left"),
        (col("__close_at") <= col(validFrom)) -> concat(
          lit(s"scd2Merge: delta $validFrom is at or before the current row's " +
            s"$validFrom for key(s) "), keyList,
          lit(" — would mint an inverted validity interval")))
      .withColumn(validTo, col("__close_at").cast(toType))
      .drop("__close_at")
    val closed = history.filter(col(validTo).isNotNull)
    val opened = checked.withColumn(validTo, lit(null).cast(toType))
    closed.unionByName(current).unionByName(opened)
      .select(history.columns.toIndexedSeq.map(col): _*)
  }

  /** Cap the number of rows per group, keeping the `maxRows` smallest by
    * `orderCol` (deterministic sample) — the guard that keeps self-joins on
    * group keys from going quadratic when one group is pathologically large
    * (the LSH mega-bucket case: m near-identical members → m² candidate
    * pairs). NO SILENT CAPS: the drop count is computed and logged, which
    * costs one eager aggregation over `df`; the input is persisted first so
    * the stats job and the returned frame share one materialization instead
    * of recomputing the upstream plan twice. persist, NOT localCheckpoint:
    * checkpointed partitions are unrecoverable on executor loss (one
    * preempted executor would fail a 100 TB job outright), while persisted
    * ones recompute from lineage. When nothing exceeds the cap (the
    * healthy-corpus case) the input is returned as-is — no extra window
    * shuffle. The capping window sends each oversized group to one task,
    * which is LINEAR in group size — the blowup being avoided is the
    * quadratic pair join. */
  def capGroupSize(df: DataFrame, groupCols: Seq[String], orderCol: String,
      maxRows: Int, label: String): DataFrame =
    capGroupSizeWithFlag(df, groupCols, orderCol, maxRows, label)._1

  /** [[capGroupSize]] plus whether any group actually exceeded the cap —
    * callers that must reconstruct cap-dependent state exactly (the
    * fuzzy-join self-pair diagonal) can skip the reconstruction work in
    * the healthy no-cap case. */
  def capGroupSizeWithFlag(df: DataFrame, groupCols: Seq[String],
      orderCol: String, maxRows: Int, label: String): (DataFrame, Boolean) = {
    require(maxRows > 0, s"maxRows must be positive, got $maxRows")
    val b = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val over = b.groupBy(groupCols.map(col): _*).agg(count(lit(1)).as("__n"))
      .filter(col("__n") > maxRows)
      .agg(coalesce(count(lit(1)), lit(0L)).as("groups"),
        coalesce(sum(col("__n") - maxRows), lit(0L)).as("rows"))
      .first()
    if (over.getLong(0) == 0) (b, false)
    else {
      org.slf4j.LoggerFactory.getLogger("graft.ops.Ops").warn(
        s"$label: ${over.getLong(0)} group(s) exceed $maxRows rows; " +
          s"dropping ${over.getLong(1)} row(s) (deterministic smallest-$orderCol sample kept)")
      val w = Window.partitionBy(groupCols.map(col): _*).orderBy(col(orderCol))
      (b.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= maxRows)
        .drop("__rn"), true)
    }
  }

  /** X44 — per-group top-fraction quality gate: keep the best num/den of
    * every group by `score` (the FineWeb-style per-source percentile gate —
    * one GLOBAL quality threshold over-prunes weak sources and under-prunes
    * strong ones; gating each source at its own percentile keeps the
    * mixture). The fraction is a RATIONAL num/den, and a row survives iff
    * rank · den ≤ group_size · num — pure integer arithmetic, so the kept
    * set is exact (floor(n·num/den) rows per group, deterministic
    * (score desc, key asc) order) and immune to the 0.3·10 = 3.0000…4
    * float-ceiling bug that a double fraction invites. Groups smaller than
    * den/num keep zero rows — a floor, not a rounding accident; callers
    * wanting ≥ 1 row per group union a sampleKPerGroup(k = 1) floor in.
    *
    * One shuffle on the group key; rank and group count ride the SAME
    * window partition, so there is no second count aggregation or join.
    * The window sends each group to one task (linear in group size) — the
    * capGroupSize hot-key caveat applies: cap or pre-sample pathological
    * groups first. */
  def keepTopFractionPerGroup(df: DataFrame, groupCols: Seq[String],
      score: Column, key: Column, num: Int, den: Int): DataFrame = {
    require(num > 0 && den > 0 && num <= den,
      s"fraction must be in (0, 1]: got $num/$den")
    val reserved = Seq("__rk", "__n").filter(df.columns.contains)
    require(reserved.isEmpty,
      s"${reserved.mkString(", ")} reserved by keepTopFractionPerGroup; rename first")
    val part = Window.partitionBy(groupCols.map(col): _*)
    val w = part.orderBy(score.desc, key.asc)
    df.withColumn("__rk", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(part))
      // rk in long: an int rk · den would overflow ANSI int arithmetic on
      // billion-row groups; __n is already a long from count()
      .filter(col("__rk").cast("long") * den <= col("__n") * num)
      .drop("__rk", "__n")
  }

  // --------------------------------------------------------------------------
  // Aggregation helpers (§2.4). The reference delegates aggregation to SQL
  // task bodies; these helpers exist mainly to make float aggregation
  // *deterministic and engine-portable*: summing doubles is order-dependent
  // (partial aggregation order varies run to run and engine to engine), so
  // monetary columns are summed in exact decimal arithmetic instead.
  // --------------------------------------------------------------------------

  /** Exact sum of a fixed-point-valued double column (e.g. prices with two
    * decimals): cast each value to DECIMAL(18,s) (exact for such data), sum
    * exactly, then present as DOUBLE. The internal arithmetic is
    * order-independent (decimal), so every engine and every partitioning
    * computes the same exact sum; the final double is that one exact value
    * correctly rounded — identical bits everywhere. Presented as DOUBLE (not
    * DECIMAL) because fixed-scale decimal rendering ('221589.00') differs
    * from shortest-round-trip double rendering ('221589.0') across engines,
    * which breaks stringified result comparison even when values are equal. */
  def sumDec(c: Column, scale: Int = 2): Column =
    sum(c.cast(DecimalType(18, scale))).cast("double")

  /** Exact sum of a product of two fixed-point-valued doubles (e.g.
    * `price * (1 - discount)`): both factors cast to exact decimals first so
    * the product and sum are exact; presented as DOUBLE (see [[sumDec]]). */
  def sumDecProduct(a: Column, b: Column, scaleA: Int = 2, scaleB: Int = 2): Column =
    sum(a.cast(DecimalType(18, scaleA)) * b.cast(DecimalType(18, scaleB)))
      .cast("double")

  /** Order-independent average: exact decimal sum converted to double, then a
    * single correctly-rounded double division. Unlike `avg(double)`, the
    * result does not depend on partial-aggregation order. */
  def avgDec(c: Column, scale: Int = 2): Column =
    sum(c.cast(DecimalType(18, scale))).cast("double") / count(c)

  /** Winsorization — clip `value` to its corpus [loQ, hiQ] quantile range
    * (the robust-statistics tail clamp: caps pathological lengths/scores
    * instead of dropping the rows the way a filter would). Two thresholds
    * from ONE exact-percentile aggregation (interpolated, matching
    * `quantile_cont` in other engines), broadcast back, then a map-only
    * `least(greatest(...))` — the clip itself never shuffles. NULL values
    * stay NULL. Adds `outCol` as double; row-preserving. */
  def winsorize(df: DataFrame, value: Column, loQ: Double, hiQ: Double,
      outCol: String = "clipped"): DataFrame = {
    require(loQ >= 0 && hiQ <= 1 && loQ < hiQ,
      s"need 0 <= loQ < hiQ <= 1, got ($loQ, $hiQ)")
    val reserved = Seq("__lo", "__hi").filter(df.columns.contains)
    require(reserved.isEmpty, s"${reserved.mkString(", ")} reserved by winsorize")
    // exact interpolated percentile (not the approx sketch): matches
    // `quantile_cont` in other engines bit-for-bit on integral inputs
    val exact = df.agg(
      percentile(value, lit(loQ)).as("__lo"),
      percentile(value, lit(hiQ)).as("__hi"))
    df.crossJoin(broadcast(exact))
      // greatest/least SKIP nulls (SQL semantics): an unguarded clip would
      // quietly clamp a NULL value to the low threshold instead of keeping it
      .withColumn(outCol,
        when(value.isNull, lit(null).cast("double"))
          .otherwise(least(greatest(value.cast("double"), col("__lo")), col("__hi"))))
      .drop("__lo", "__hi")
  }

  /** Per-group z-score outlier flag WITHOUT floating-point statistics:
    * marks rows where |x − μ_g| > k·σ_g (population σ), evaluated through
    * the exact integer identity
    *
    *   (n·x − S)² > k²·(n·Q − S²)      with S = Σx, Q = Σx² per group
    *
    * — both sides are integers, so the boundary decision is bit-identical
    * in every engine and at every partitioning (a float `stddev` is
    * Welford-vs-naive and accumulation-order dependent, which can flip rows
    * sitting on the threshold). The anomaly gate of a quality pipeline:
    * flag documents whose length/token count is pathological *for their
    * group* (language, source) before they skew training mixes.
    *
    * Scale shape: one map-side-combinable aggregation to a groups-sized
    * stats frame, broadcast back, then a map-only comparison — no window,
    * no per-group single task. `value` must be integral with n·|x| ≲ 10¹⁹
    * per group — e.g. |x| < ~10⁹ over groups < ~10¹⁰ rows — which keeps
    * (n·x−S)², S² and n·Q within DECIMAL(38,0) exactly (beyond it, Spark's
    * ANSI decimal overflow raises rather than silently corrupting).
    * Groups of one row have σ = 0 and are never outliers (n·x − S = 0).
    *
    * NULLs: group statistics (n, S, Q) are computed over NON-null values
    * only, so null values never skew other rows' decisions; a row with a
    * null value — or a null group, which no statistics row matches — gets a
    * null flag, never a silent drop. The output is row-preserving. */
  def flagOutliers(df: DataFrame, groupCols: Seq[String], value: Column,
      k: Int, outCol: String = "is_outlier"): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(groupCols.nonEmpty, "flagOutliers needs at least one group column")
    val reserved = Seq("__n", "__s", "__q2").filter(df.columns.contains)
    require(reserved.isEmpty, s"${reserved.mkString(", ")} reserved by flagOutliers")
    val x = value.cast(DecimalType(19, 0))
    val stats = df.filter(value.isNotNull)
      .groupBy(groupCols.map(col): _*)
      .agg(count(value).cast(DecimalType(19, 0)).as("__n"),
        sum(x).as("__s"), sum(x * x).as("__q2"))
    val lhs = (col("__n") * x - col("__s")) * (col("__n") * x - col("__s"))
    val rhs = lit(k * k) * (col("__n") * col("__q2") - col("__s") * col("__s"))
    df.join(broadcast(stats), groupCols, "left")
      .withColumn(outCol, lhs > rhs)
      .drop("__n", "__s", "__q2")
  }

  /** Snapshot diff — what changed between two versions of a table (the
    * incremental-pipeline audit primitive: yesterday's corpus vs today's;
    * the validation counterpart of [[upsert]]/[[scd2Merge]], which APPLY
    * changes while this one REPORTS them). Output: one row per differing
    * key with `change ∈ {added, removed, changed}` and both sides'
    * non-key columns (`<col>_old` / `<col>_new`, null on the absent side).
    * Unchanged rows are not emitted. Rows are compared null-safely across
    * ALL shared non-key columns.
    *
    * Scale: ONE full-outer join keyed on `keys` — both sides shuffle once
    * (or co-locate for free when the snapshots share a bucketed layout,
    * the natural state for versioned corpora), then a map-only compare.
    * No window, no driver collection. `keys` must be unique per side
    * (dedupe upstream; duplicate keys would cross-multiply in the join). */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "snapshotDiff needs at least one key column")
    require(oldDf.columns.sorted.sameElements(newDf.columns.sorted),
      s"schema mismatch: old ${oldDf.columns.sorted.mkString(",")} vs " +
        s"new ${newDf.columns.sorted.mkString(",")}")
    val missing = keys.filterNot(oldDf.columns.contains)
    require(missing.isEmpty, s"key column(s) not in schema: ${missing.mkString(",")}")
    require(!oldDf.columns.contains("change"),
      "column name 'change' is reserved by snapshotDiff")
    val valueCols = oldDf.columns.filterNot(keys.contains).toSeq
    // key columns pass through UNRENAMED, so a key (or second value column)
    // literally named '<valueCol>_old'/'_new' would collide with the aliased
    // payload; the presence markers are reserved outright — same guard shape
    // as bm25TopK / ngramCollisionContamination
    val reserved = valueCols.flatMap(c => Seq(s"${c}_old", s"${c}_new")) ++
      Seq("__in_old", "__in_new")
    val clash = oldDf.columns.filter(reserved.contains)
    require(clash.isEmpty,
      s"column name(s) reserved by snapshotDiff: ${clash.mkString(",")}")
    // presence markers survive the outer join even when every payload
    // column is legitimately null on a present side
    val l = oldDf.select(keys.map(col) ++
      (valueCols.map(c => col(c).as(s"${c}_old")) :+ lit(true).as("__in_old")): _*)
    val r = newDf.select(keys.map(col) ++
      (valueCols.map(c => col(c).as(s"${c}_new")) :+ lit(true).as("__in_new")): _*)
    val joined = l.join(r, keys, "full_outer")
    val same =
      if (valueCols.isEmpty) lit(true)
      else valueCols.map(c => col(s"${c}_old") <=> col(s"${c}_new")).reduce(_ && _)
    joined
      .withColumn("change",
        when(col("__in_old").isNull, "added")
          .when(col("__in_new").isNull, "removed")
          .when(!same, "changed"))
      .filter(col("change").isNotNull)
      .drop("__in_old", "__in_new")
  }

  /** Equal-width numeric histogram — the distribution half of profiling
    * ([[graft.ops.Validate.profile]] covers nulls/distincts/min-max; this
    * covers shape). `nBins` bins over [lo, hi); values outside the range
    * clamp into the edge bins (a histogram must account for every counted
    * value, silently dropping tails misreports skew — the same no-silent-
    * caps rule the dedup operators follow). NULL and NaN values are
    * EXCLUDED — NaN is not "below range" (its float cast would otherwise
    * land in bin 0, silently inflating the low tail); count them upstream
    * via [[graft.ops.Validate.profile]] when they matter. Empty bins emit
    * explicit zero rows, so downstream charting/drift-compare never
    * misaligns bins.
    * Output: (bin, lo_edge, hi_edge, n) ordered by bin.
    *
    * Scale: map-only bin assignment (integer arithmetic on a pure column
    * expression) + one nBins-cardinality aggregation with map-side combine
    * + a broadcast join against an nBins-row literal grid — one scan, one
    * tiny shuffle, at any corpus size. Bounds are CALLER-SUPPLIED (from
    * table stats or a prior profile) precisely so the histogram stays
    * one-pass; deriving them in-plan would force a second scan. */
  def histogram(df: DataFrame, value: Column, lo: Double, hi: Double,
      nBins: Int): DataFrame = {
    require(nBins > 0, s"nBins must be positive, got $nBins")
    require(lo < hi, s"need lo < hi, got [$lo, $hi)")
    val spark = df.sparkSession
    val width = (hi - lo) / nBins
    // clamp in DOUBLE space BEFORE the int cast: a far-out-of-range value
    // (ms-epoch timestamp profiled against small bins, +Infinity) makes
    // |v-lo|/width exceed 2^31, and under ANSI mode the int cast of that
    // unclamped floor throws instead of clamping into the edge bin
    val bin = floor(least(greatest(
      (value.cast("double") - lo) / width, lit(0.0)), lit((nBins - 1).toDouble)))
      .cast("int")
    val counts = df.filter(value.isNotNull && !isnan(value.cast("double")))
      .select(bin.as("bin")).groupBy("bin")
      .agg(count(lit(1)).as("n"))
    // literal bin grid: nBins rows built driver-side (histogram geometry,
    // not data); the left join preserves it, guaranteeing empty bins appear.
    // The broadcast hint goes on the COUNTS side — a left-outer join can
    // only hash-build its right side, a hint on the preserved side is a
    // silent no-op
    import spark.implicits._
    val grid = (0 until nBins)
      .map(i => (i, lo + i * width, if (i == nBins - 1) hi else lo + (i + 1) * width))
      .toDF("bin", "lo_edge", "hi_edge")
    grid.join(broadcast(counts), Seq("bin"), "left")
      .select(col("bin"), col("lo_edge"), col("hi_edge"),
        coalesce(col("n"), lit(0L)).as("n"))
      .orderBy("bin")
  }

  /** Equal-FREQUENCY histogram (quantile bins — the decile-analysis /
    * monotone-binning companion to [[histogram]]'s equal-width grid):
    * nBins bins whose edges are the exact i/nBins percentiles of `value`
    * itself, so each bin holds ~1/nBins of the rows regardless of how
    * skewed the distribution is — the binning a heavy-tailed column
    * (doc length, token count) needs, where an equal-width grid puts 99%
    * of rows in one bin. Row v lands in the last bin whose left edge
    * ≤ v (bins [e_i, e_{i+1}), last bin closed); duplicate-valued edges
    * (discrete data) leave their earlier twins empty — deterministic, and
    * visible rather than silently re-spread.
    *
    * Scale: ONE exact-percentile aggregation (the [[winsorize]] path)
    * produces the (nBins+1)-edge array on a 1-row frame that BROADCASTS to
    * the binning pass — no collect, no second scan beyond the count
    * aggregate; bin counts shuffle nBins rows after map-side partials.
    * Exact percentiles sort per partition at corpus scale — for a cheap
    * approximate grid swap in `approx_percentile`/KLL edges upstream; the
    * exact form is what the drift gates here want. */
  def histogramByQuantile(df: DataFrame, value: Column, nBins: Int): DataFrame = {
    require(nBins >= 2 && nBins <= 1000, s"nBins must be in [2, 1000], got $nBins")
    val v = value.cast("double")
    val vals = df.filter(value.isNotNull && !isnan(v))
      .select(v.as("__v"), value.as("__raw"))
    val ranks = (0 to nBins).map(i => i.toDouble / nBins)
    val edges = vals
      .agg(expr(s"percentile(__raw, array(${ranks.mkString(", ")}))").as("edges"))
    val interior = slice(col("edges"), 2, nBins - 1)
    val counts = vals.crossJoin(broadcast(edges))
      .select(least(size(filter(interior, e => e <= col("__v"))),
        lit(nBins - 1)).as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("n"))
    val grid = edges.select(explode(array((0 until nBins).map(i =>
        struct(lit(i).as("bin"),
          element_at(col("edges"), i + 1).as("lo_edge"),
          element_at(col("edges"), i + 2).as("hi_edge"))): _*)).as("g"))
      .select(col("g.bin").as("bin"), col("g.lo_edge").as("lo_edge"),
        col("g.hi_edge").as("hi_edge"))
    // broadcast hint on the COUNTS side: left-outer can only build right
    grid.join(broadcast(counts), Seq("bin"), "left")
      .select(col("bin"), col("lo_edge"), col("hi_edge"),
        coalesce(col("n"), lit(0L)).as("n"))
      .orderBy("bin")
  }

  /** Population stability index — distribution drift between two corpus
    * snapshots (the retrain-trigger metric: PSI < 0.1 stable, 0.1–0.25
    * moderate shift, > 0.25 investigate). Both sides bin through
    * [[histogram]]'s shared grid, proportions are ε-clamped (an empty bin
    * on one side must contribute a large-but-finite term, not ±∞), and
    * per-bin contributions `(p_new − p_old)·ln(p_new/p_old)` round to 6
    * then sum in exact DECIMAL — the repo's float-determinism rule, which
    * also keeps the metric engine-portable. Returns one row per bin
    * (bin, lo_edge, hi_edge, p_old, p_new, contrib) plus the grand total
    * in every row's `psi` column (an nBins-row frame; the total is a
    * window-free broadcast self-aggregate).
    *
    * Scale: two one-scan histograms (nBins-row aggregates with map-side
    * combine) + nBins-row arithmetic — corpus-size-independent beyond the
    * two scans; nothing shuffles but the bin counts. */
  def psi(oldDf: DataFrame, newDf: DataFrame, value: Column,
      lo: Double, hi: Double, nBins: Int, eps: Double = 1e-6): DataFrame = {
    require(eps > 0 && eps < 1, s"eps must be in (0,1), got $eps")
    val h0 = histogram(oldDf, value, lo, hi, nBins)
      .select(col("bin"), col("lo_edge"), col("hi_edge"), col("n").as("__n_old"))
    val h1 = histogram(newDf, value, lo, hi, nBins)
      .select(col("bin"), col("n").as("__n_new"))
    val joined = h0.join(h1, "bin") // nBins rows × nBins rows, same grid
    val tot = joined.agg(sum(col("__n_old")).as("__t_old"),
      sum(col("__n_new")).as("__t_new"))
    // an entirely-empty SIDE (total 0) would make the proportion 0/0 = NaN,
    // and greatest(NaN, eps) is NaN (Spark orders NaN largest) — the ε-clamp
    // only covers empty BINS, so pin the empty-side proportion to ε directly
    val pOld = when(col("__t_old") === 0, lit(eps))
      .otherwise(greatest(col("__n_old").cast("double") / col("__t_old"), lit(eps)))
    val pNew = when(col("__t_new") === 0, lit(eps))
      .otherwise(greatest(col("__n_new").cast("double") / col("__t_new"), lit(eps)))
    val contrib = round((pNew - pOld) * log(pNew / pOld), 6)
    val perBin = joined.crossJoin(broadcast(tot))
      .select(col("bin"), col("lo_edge"), col("hi_edge"),
        round(pOld, 6).as("p_old"), round(pNew, 6).as("p_new"),
        contrib.as("contrib"))
    val total = perBin.agg(
      round(sum(col("contrib").cast(DecimalType(28, 12))).cast("double"), 6).as("psi"))
    perBin.crossJoin(broadcast(total)).orderBy("bin")
  }

  /** X96 — exact χ² contingency association between two categorical
    * columns: the feature-screening / drift-pair companion to [[psi]]
    * (PSI watches ONE column across time; this asks whether TWO columns
    * move together — "does quality flag depend on source", "did the
    * lang×license mix shift"). Per contingency cell, with margins
    * rT = row total, cT = column total, N = grand total, the classical
    * statistic's cell term (O − E)²/E rewrites EXACTLY as
    * (N·O − rT·cT)² / (N·rT·cT) — every quantity an integer, so the
    * per-cell contribution lands as a floored micro via one integral
    * DECIMAL division: engine-replayable with no float anywhere, and
    * the total is the sum of the floored cells (exact to within
    * #cells µ, documented — a χ² read against critical values in the
    * hundreds does not feel 25 µ).
    *
    * Output: one row per observed cell —
    * `(a, b, observed, expected_micro, cell_micro, n, dof, chi2_micro)`
    * with the summary columns repeated (cells are bounded; the repeat
    * costs nothing and keeps one result frame). `dof` = (distinct a − 1)
    * ·(distinct b − 1) over observed values. NULL categories are REAL
    * groups (the X88 stance) — surfaced as "(null)".
    *
    * Scale shape: one (a, b) count aggregation with map-side combine —
    * the contingency table is category²-sized, never corpus-sized —
    * margins by two more bounded aggregations over it, everything after
    * on cells only. `maxCells` refuses key-like columns; the DECIMAL(38)
    * budget holds to N ≤ 2e9 (N⁴ < 10³⁸), refused past it — sample
    * first, a χ² at 2e9 rows rejects everything anyway. */
  def chiSquare(df: DataFrame, a: Column, b: Column,
      maxCells: Long = 100000L): DataFrame = {
    require(maxCells >= 1, s"maxCells must be positive, got $maxCells")
    val base = df.select(coalesce(a.cast("string"), lit("(null)")).as("a"),
      coalesce(b.cast("string"), lit("(null)")).as("b"))
    val cells = base.groupBy("a", "b").agg(count(lit(1)).as("observed"))
      .persist()
    try {
      val stats = cells.agg(sum(col("observed")), count(lit(1)),
        countDistinct(col("a")), countDistinct(col("b"))).collect()(0)
      val n = stats.getLong(0)
      require(stats.getLong(1) <= maxCells,
        s"${stats.getLong(1)} contingency cells exceed maxCells=$maxCells " +
          "— a key-like column is not a categorical axis")
      require(n <= 2000000000L,
        s"N=$n exceeds the exact DECIMAL(38) χ² budget (2e9) — sample first")
      val dof = (stats.getLong(2) - 1) * (stats.getLong(3) - 1)
      val rt = cells.groupBy("a").agg(sum(col("observed")).as("__rt"))
      val ct = cells.groupBy("b").agg(sum(col("observed")).as("__ct"))
      val per = cells.join(rt, "a").join(ct, "b")
        .withColumn("expected_micro",
          expr(s"CAST(CAST(__rt AS DECIMAL(38,0)) * __ct * 1000000 " +
            s"DIV ${n}L AS BIGINT)"))
        // diff² already spans 37 digits at the N budget; multiplying by
        // 1e6 BEFORE dividing would blow DECIMAL(38) (and HUGEINT), so
        // the micro value is assembled two-stage: integer part, then the
        // remainder scaled — exact, and both engines replay it verbatim
        .withColumn("__diff", expr(
          s"CAST(${n}L * observed - CAST(__rt AS DECIMAL(38,0)) * __ct " +
            "AS DECIMAL(38,0))"))
        .withColumn("__den",
          expr(s"CAST(${n}L AS DECIMAL(38,0)) * __rt * __ct"))
        .withColumn("cell_micro", expr(
          "CAST(__diff * __diff DIV __den AS BIGINT) * 1000000 + " +
            "CAST((__diff * __diff % __den) * 1000000 DIV __den AS BIGINT)"))
      val total = per.agg(sum(col("cell_micro")).as("chi2_micro"))
      per.crossJoin(broadcast(total))
        .select(col("a"), col("b"), col("observed"), col("expected_micro"),
          col("cell_micro"), lit(n).as("n"), lit(dof).as("dof"),
          col("chi2_micro"))
    } finally cells.unpersist()
  }

  /** X100 — exact per-group OLS trend line: the "is this metric drifting,
    * and how fast" primitive behind every burn-down/growth/regression
    * dashboard — and the DIRECTION/RATE companion to X22's PSI (which
    * detects that a distribution moved) and X80's CUSUM (which detects
    * when): the least-squares slope says how fast a per-period metric is
    * moving, per group, in closed form.
    *
    * Exact integer contract: with x the period index and y the metric in
    * integer (micro) units, slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²) —
    * four sums in one aggregation, assembled in DECIMAL(38,0) and
    * presented as `slope_micro = num·1e6 DIV den` (TRUNCATING division:
    * both engines truncate integral division toward zero, the X86
    * stance, so negative slopes replay bit-identically). The line's
    * anchor rides along as exact floor-micro means (`mean_x_micro`,
    * `mean_y_micro`; ŷ = mean_y + slope·(x − mean_x)) — emitting the
    * intercept directly would need Σy·den products past the DECIMAL(38)
    * budget. Budget (probed, refused): |x| ≤ 1e6 (period indexes — days,
    * hours, buckets — never epoch micros), |y| ≤ 1e9, N ≤ 1e8; inside it
    * every intermediate fits 38 digits with the 1e6 scale applied
    * single-stage.
    *
    * Groups with n < 2 or zero x-variance have no defined slope → NULL
    * (never a fake 0 — "no trend measurable" and "flat" are different
    * answers). NULL x/y rows drop. Scale: ONE aggregation with map-side
    * combine; output is group-sized. */
  def trendSlopes(df: DataFrame, groups: Seq[String], x: Column,
      y: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val base = df.select(groups.map(col) :+
        x.cast("long").as("__x") :+ y.cast("long").as("__y"): _*)
      .filter(col("__x").isNotNull && col("__y").isNotNull)
    // ONE probe pass folds all three budgets (|x|, |y|, N) — the r13
    // shape ran three scans over `base` (filter probe + N-check groupBy
    // + the consumed groupBy), contradicting the "ONE aggregation"
    // claim; this is now probe + consume, each a single map-side-combine
    // aggregation over the corpus
    val probe = base.agg(coalesce(max(abs(col("__x"))), lit(0L)),
      coalesce(max(abs(col("__y"))), lit(0L)), count(lit(1))).collect()(0)
    require(probe.getLong(0) <= 1000000L && probe.getLong(1) <= 1000000000L,
      "trendSlopes: |x| > 1e6 or |y| > 1e9 — pass period indexes and " +
        "bounded integer metrics (the DECIMAL(38) slope budget)")
    require(probe.getLong(2) <= 100000000L,
      s"trendSlopes: N=${probe.getLong(2)} exceeds the DECIMAL(38) " +
        "budget (1e8) — pre-aggregate to periods first")
    val d = DecimalType(38, 0)
    val agged = base.groupBy(groups.map(col): _*).agg(
      count(lit(1)).as("n"),
      sum(col("__x").cast(d)).as("__sx"),
      sum(col("__y").cast(d)).as("__sy"),
      sum((col("__x") * col("__y")).cast(d)).as("__sxy"),
      sum((col("__x") * col("__x")).cast(d)).as("__sxx"))
    agged.select(groups.map(col) :+ col("n") :+
      expr("CAST(CASE WHEN n >= 2 AND n * __sxx - __sx * __sx <> 0 THEN " +
        "(n * __sxy - __sx * __sy) * 1000000 DIV (n * __sxx - __sx * __sx) " +
        "END AS BIGINT)").as("slope_micro") :+
      expr("CAST(__sx * 1000000 DIV n AS BIGINT)").as("mean_x_micro") :+
      expr("CAST(__sy * 1000000 DIV n AS BIGINT)").as("mean_y_micro"): _*)
  }

  /** X123 — exact WEIGHTED per-group percentiles: [[exactPercentiles]]
    * for corpora where rows carry unequal mass — token-weighted quality
    * quantiles ("the median quality TOKEN", not the median document —
    * the number a token-budget gate actually needs, X15/X24), spend- or
    * duration-weighted latency percentiles. Weighted nearest-rank:
    * P(q) = the smallest value whose cumulative weight reaches
    * ⌈q·W⌉ — always a value IN the data (the X92 discipline), reducing
    * exactly to [[exactPercentiles]] at unit weights (the spec pins
    * that identity).
    *
    * Exact integers throughout: ties collapse by ONE (group, value)
    * aggregation (distinct values cross the shuffle, not rows), one
    * keyed window pair (running + total weight — one Exchange), and the
    * per-quantile pick is `min(value | cumW ≥ ceil(q·W/1e6))` with the
    * threshold formed in DECIMAL(38,0) (q·W overflows Long past
    * W ≈ 9.2e12). Weights must be POSITIVE integers (zero/negative
    * refused in the plan — a zero-weight row would still shift
    * nothing but ambiguate "smallest value reaching the target"; scale
    * fractional weights to micros upstream). NULL values/weights drop.
    * Output: `(groups…, n, total_w, <names…>)`. */
  def weightedPercentiles(df: DataFrame, groups: Seq[String], value: Column,
      weight: Column, qs: Seq[(String, Long)]): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(qs.nonEmpty, "weightedPercentiles needs at least one quantile")
    qs.foreach { case (name, q) =>
      require(q > 0 && q <= 1000000L,
        s"quantile $name must be in (0, 1e6] micros, got $q") }
    require(qs.map(_._1).distinct.size == qs.size,
      s"duplicate output names: ${qs.map(_._1)}")
    val base = Refuse.rows(df.select(groups.map(col) :+ value.cast("long").as("__v") :+
        weight.cast("long").as("__w"): _*)
      .filter(col("__v").isNotNull && col("__w").isNotNull),
      (col("__w") <= 0) -> concat(lit("weightedPercentiles: non-positive weight "),
        col("__w").cast("string"),
        lit(" — weights are row mass; filter or fix upstream")))
    val perV = base.groupBy(groups.map(col) :+ col("__v"): _*)
      .agg(sum(col("__w")).as("__vw"), count(lit(1)).as("__vc"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groups.map(col): _*).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wg = org.apache.spark.sql.expressions.Window
      .partitionBy(groups.map(col): _*)
    val d = DecimalType(38, 0)
    val stepped = perV
      .withColumn("__cw", sum(col("__vw")).over(w))
      .withColumn("__W", sum(col("__vw")).over(wg))
    val aggs = sum(col("__vc")).as("n") +: max(col("__W")).as("total_w") +:
      qs.map { case (name, q) =>
        min(when(col("__cw").cast(d) * 1000000L >=
          greatest(lit(1000000L).cast(d), col("__W").cast(d) * q),
          col("__v"))).as(name)
      }
    stepped.groupBy(groups.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** X101 — MAD-based robust outlier flags: the ROBUST sibling of
    * [[flagOutliers]] (global mean/σ) and [[TimeSeries.rollingOutliers]]
    * (trailing mean/σ) — median absolute deviation ignores the very
    * outliers it hunts, so one wild value cannot inflate the yardstick
    * that judges it (the classical breakdown-point argument; Hampel's
    * rule). flag ⇔ |x − median|·1e6 > k·MAD, everything an order
    * statistic or an exact integer — medians are nearest-rank data
    * values from [[exactPercentiles]], deviations exact Longs, the
    * comparison in DECIMAL(38,0) so micro-scaled deviations never wrap.
    *
    * A group whose MAD is 0 (over half its values identical) flags NULL
    * ("the yardstick is degenerate", not "normal") — the X56 unknown
    * stance; NULL values flag NULL and join neither median. Scale: two
    * [[exactPercentiles]] passes (each one keyed window — the X51
    * per-group sort bound) and two group-sized joins back; no driver
    * state. */
  def madOutliers(df: DataFrame, groups: Seq[String], value: Column,
      kMicro: Long, outCol: String = "is_outlier"): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(kMicro > 0, s"kMicro must be positive, got $kMicro")
    val reserved = Seq("med", "mad", outCol, "__v", "__dev")
      .filter(df.columns.contains)
    require(reserved.isEmpty,
      s"column name(s) ${reserved.mkString(", ")} reserved by madOutliers")
    val base = df.withColumn("__v", value.cast("long"))
    // null-safe group joins: a NULL group key is a real group (the X88
    // stance) and must receive its own median/MAD like any other
    def joinBack(left: DataFrame, agg: DataFrame, keep: String): DataFrame = {
      val r = agg.select(groups.zipWithIndex.map { case (g, i) =>
        col(g).as(s"__g$i") } :+ col(keep): _*)
      val cond = groups.zipWithIndex
        .map { case (g, i) => left(g) <=> r(s"__g$i") }
        .reduce(_ && _)
      left.join(r, cond, "left").drop(groups.indices.map(i => s"__g$i"): _*)
    }
    val med = exactPercentiles(base, groups, col("__v"),
      Seq(("med", 500000L))).drop("n")
    val withMed = joinBack(base, med, "med")
      .withColumn("__dev", abs(col("__v") - col("med")))
    val mad = exactPercentiles(withMed, groups, col("__dev"),
      Seq(("mad", 500000L))).drop("n")
    joinBack(withMed, mad, "mad")
      .withColumn(outCol,
        when(col("__v").isNull || col("mad").isNull || col("mad") === 0,
          lit(null).cast("boolean"))
          .otherwise(col("__dev").cast(DecimalType(38, 0)) * 1000000L >
            col("mad").cast(DecimalType(38, 0)) * kMicro))
      .drop("__v", "__dev")
  }

  /** X106 — mutual information + pointwise MI between two categorical
    * columns: [[chiSquare]]'s information-theoretic sibling — χ² answers
    * "are these axes dependent at all" as a significance test; MI answers
    * "how MUCH information does one carry about the other" in comparable
    * nat units (feature screening ranks by MI; χ² p-values saturate at
    * corpus N), and the per-cell PMI = ln(p_ab / (p_a·p_b)) is the
    * classic co-occurrence-strength score (Church & Hanks, CL 1990) that
    * collocation mining and embedding-matrix construction run on.
    *
    * Determinism contract (the X19/BM25 stance for logs): the ratio
    * n_ab·N / (n_a·n_b) is formed from EXACT Long products (N ≤ 2e9
    * keeps both inside Long) with ONE correctly-rounded double division,
    * then `pmi_micro = round(ln·1e6)` — ln's cross-engine disagreement
    * is last-ulp (documented, the q217 precedent) and sits eight orders
    * below the rounding grain. The total is then EXACT integer
    * arithmetic over the rounded cells: `mi_micro = Σ n_ab·pmi_micro
    * DIV N` in DECIMAL(38,0) — exact to #cells µ, like the χ² total.
    *
    * NULL categories are real "(null)" groups; `maxCells` refuses
    * key-like axes and N ≤ 2e9 is probed (both the [[chiSquare]]
    * budget). Scale: ONE (a,b) aggregation with map-side combine + two
    * bounded margin rollups + one broadcast total — category²-sized
    * throughout. Output: one row per observed cell —
    * `(a, b, observed, pmi_micro, n, mi_micro)`. */
  def miAssociation(df: DataFrame, a: Column, b: Column,
      maxCells: Int = 10000): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(maxCells >= 1, s"maxCells must be positive, got $maxCells")
    val cells = df.select(
        coalesce(a.cast("string"), lit("(null)")).as("a"),
        coalesce(b.cast("string"), lit("(null)")).as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("observed"))
      .persist()
    try {
      val stats = cells.agg(sum(col("observed")).as("n"),
        count(lit(1)).as("cells")).collect()(0)
      val n = stats.getLong(0)
      require(stats.getLong(1) <= maxCells,
        s"more than $maxCells contingency cells — a key-like column is " +
          "not a categorical axis")
      require(n <= 2000000000L,
        s"N=$n exceeds the exact Long PMI-ratio budget (2e9) — sample first")
      val rt = cells.groupBy("a").agg(sum(col("observed")).as("__na"))
      val ct = cells.groupBy("b").agg(sum(col("observed")).as("__nb"))
      val per = cells.join(rt, "a").join(ct, "b")
        .withColumn("pmi_micro",
          round(log((col("observed") * n).cast("double") /
            (col("__na") * col("__nb")).cast("double")) * 1e6)
            .cast("long"))
      val total = per.agg(expr(s"CAST(sum(CAST(observed AS DECIMAL(38,0))" +
        s" * pmi_micro) DIV ${n}L AS BIGINT)").as("mi_micro"))
      per.crossJoin(broadcast(total))
        .select(col("a"), col("b"), col("observed"), col("pmi_micro"),
          lit(n).as("n"), col("mi_micro"))
    } finally cells.unpersist()
  }

  /** X111 — Weight-of-Evidence binning + Information Value: the
    * credit-scoring feature screen (Siddiqi, "Credit Risk Scorecards")
    * that completes the association triad — [[chiSquare]] tests
    * dependence, [[miAssociation]] measures it symmetrically, WOE/IV
    * measures it AGAINST A BINARY TARGET per bin, which is the form
    * model-feature selection actually consumes ("IV < 0.02 = useless,
    * > 0.5 = suspicious" is the folklore table).
    *
    * Per bin b: `woe = ln(pos_b·negT / (neg_b·posT))` (positive-class
    * share over negative-class share) and the IV contribution
    * `(pos_share − neg_share)·woe`; IV = Σ contributions. Arithmetic
    * per the X106 stance: the ratio from EXACT Long products (N ≤ 2e9
    * probed), one correctly-rounded double division,
    * `woe_micro = round(ln·1e6)`; shares are floor micros and the IV
    * cell `(ps − ns)·woe DIV 1e6` is exact truncating integer
    * arithmetic over the rounded values (sign-symmetric: a bin can't
    * contribute negatively — both factors share sign — but the
    * TRUNCATION must agree, and both engines truncate).
    *
    * A bin with ZERO positives or negatives has infinite WOE — REFUSED
    * with the standard instruction (merge sparse bins upstream; silent
    * smoothing would move every other bin's number without saying so).
    * NULL bins are the real "(null)" bin; NULL labels drop. `maxBins`
    * refuses key-like bin columns. Scale: one (bin)-keyed aggregation
    * with map-side combine + one broadcast totals row. Output per bin:
    * `(bin, n_pos, n_neg, pos_share_micro, neg_share_micro, woe_micro,
    * iv_cell_micro, iv_micro)`. */
  def woeIv(df: DataFrame, bin: Column, label: Column,
      maxBins: Int = 1000): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(maxBins >= 1, s"maxBins must be positive, got $maxBins")
    val cells = df.select(coalesce(bin.cast("string"), lit("(null)"))
          .as("bin"), label.cast("boolean").as("__l"))
      .filter(col("__l").isNotNull)
      .groupBy("bin")
      .agg(sum(when(col("__l"), 1L).otherwise(0L)).as("n_pos"),
        sum(when(!col("__l"), 1L).otherwise(0L)).as("n_neg"))
      .persist()
    try {
      val stats = cells.agg(sum(col("n_pos")).as("pt"),
        sum(col("n_neg")).as("nt"), count(lit(1)).as("bins")).collect()(0)
      val posT = stats.getLong(0); val negT = stats.getLong(1)
      require(stats.getLong(2) <= maxBins,
        s"more than $maxBins bins — a key-like column is not a binning")
      require(posT >= 1 && negT >= 1,
        "woeIv: the label must have both classes present")
      require(posT <= 2000000000L && negT <= 2000000000L,
        "class totals exceed the exact Long ratio budget (2e9) — sample")
      // every read of the result computes the broadcast total over
      // all bins, so the refusal fires on any read
      val per = Refuse.rows(cells, (col("n_pos") === 0 || col("n_neg") === 0) ->
          concat(lit("bin '"), col("bin"), lit("' has zero positives or " +
            "negatives — WOE is infinite there; merge sparse bins upstream " +
            "(silent smoothing would move every bin's number)")))
        .withColumn("woe_micro",
          round(log((col("n_pos") * negT).cast("double") /
            (col("n_neg") * posT).cast("double")) * 1e6).cast("long"))
        .withColumn("pos_share_micro", expr(s"n_pos * 1000000 DIV ${posT}L"))
        .withColumn("neg_share_micro", expr(s"n_neg * 1000000 DIV ${negT}L"))
        .withColumn("iv_cell_micro", expr(
          "CAST(CAST(pos_share_micro - neg_share_micro AS DECIMAL(38,0)) " +
            "* woe_micro DIV 1000000 AS BIGINT)"))
      val total = per.agg(sum(col("iv_cell_micro")).as("iv_micro"))
      per.crossJoin(broadcast(total))
        .select(col("bin"), col("n_pos"), col("n_neg"),
          col("pos_share_micro"), col("neg_share_micro"), col("woe_micro"),
          col("iv_cell_micro"), col("iv_micro"))
    } finally cells.unpersist()
  }

  /** X131 — Benjamini-Hochberg FDR adjustment (Benjamini & Hochberg,
    * JRSS-B 1995): the multiplicity layer every many-hypotheses readout
    * needs — X125's Bonferroni note controls the family-wise error and
    * throws power away; BH controls the FALSE DISCOVERY RATE, the
    * standard for screening (which of 500 segments drifted, which of
    * 10k features moved). Step-up rule per family: sort p ascending,
    * k* = max{k : p_(k)·m ≤ k·α}, reject ranks ≤ k*.
    *
    * Exactness: p-values arrive as integer micros (this operator
    * ADJUSTS p-values, it never computes them — no engine here
    * evaluates a CDF, the X112 stance); the step-up comparison is the
    * exact integer cross-product `p_µ·m ≤ k·α_µ` (no division), and
    * TIED p-values share the MAX rank of their tie group, which makes
    * the rejection set tie-consistent (equal evidence, equal decision —
    * provably the adjusted-p formulation's behavior) and independent of
    * any tie-break an engine might pick. NULL p-values drop
    * (unrankable); p outside [0, 1e6] REFUSES (a malformed p-value
    * silently reordered would poison the whole family).
    *
    * Scale shape: one family-keyed window pair sharing one Exchange
    * (row_number for k, max-over-ties for the rank, max-over-family for
    * k*) — sorts are per FAMILY (the bounded-hypotheses axis), never
    * corpus-keyed. Output: input columns + `(bh_rank, m_tests,
    * rejected)`. */
  def bhAdjust(df: DataFrame, families: Seq[String], pMicro: Column,
      alphaMicro: Long): DataFrame = {
    require(alphaMicro > 0 && alphaMicro < 1000000L,
      s"alphaMicro must be in (0, 1e6), got $alphaMicro")
    val reserved = Seq("bh_rank", "m_tests", "rejected", "__p", "__j")
      .filter(df.columns.contains)
    require(reserved.isEmpty,
      s"column name(s) ${reserved.mkString(", ")} reserved by bhAdjust")
    val base = Refuse.rows(df.withColumn("__p", pMicro.cast("long"))
      .filter(col("__p").isNotNull),
      (col("__p") < 0 || col("__p") > 1000000L) -> lit(
        "p-value outside [0, 1e6] micros — a malformed p silently " +
          "reordered would poison the whole family; fix upstream"))
    val fam = families.map(col)
    val W = org.apache.spark.sql.expressions.Window
    val wSort = W.partitionBy(fam: _*).orderBy(col("__p"))
    val wFam = W.partitionBy(fam: _*)
    base
      .withColumn("__j", row_number().over(wSort))
      .withColumn("m_tests", count(lit(1)).over(wFam))
      // ties share their group's MAX position (tie-consistent rejection):
      // a RANGE frame counts every row with p ≤ mine, and it rides the
      // SAME (family, order-by-p) spec as the row numbering — all three
      // window functions share ONE Exchange
      .withColumn("bh_rank", count(lit(1)).over(
        wSort.rangeBetween(W.unboundedPreceding, W.currentRow)))
      .withColumn("rejected",
        coalesce(col("bh_rank") <= max(when(
          col("__p") * col("m_tests") <= col("__j") * alphaMicro,
          col("__j"))).over(wFam), lit(false)))
      .drop("__p", "__j")
  }

  /** X168 — categorical diversity report: Shannon entropy, Gini-Simpson
    * index, effective category count, and top-category share (Shannon
    * 1948; Simpson, Nature 1949; Hill numbers for the "effective
    * count" reading) — the MIXTURE AUDIT a training-data pipeline runs
    * on its source/language/domain columns: X22's PSI says the mix
    * MOVED, X156 tests it against a declared target, THIS summarizes
    * how concentrated it is in absolute terms ("how many effective
    * sources does this corpus really draw from?" — the number data-
    * mixing papers report, and the early-warning for a crawl quietly
    * collapsing onto one domain).
    *
    * Exactness: cells (family, level) → count c collapse once;
    * entropy's per-cell term takes ONE stated chain to an INTEGER —
    * `g_i = round(1e6·c·ln(N/c))` (the X153 per-cell discipline; the
    * sum rides exact integers, never running doubles) — and
    * `entropy_micro = Σg DIV N` is one floor; the Gini-Simpson index
    * uses the UNBIASED without-replacement form
    * `1e6 − (Σc(c−1)·1e6 DIV (N(N−1)))` — exact DECIMAL(38,0)
    * throughout; `eff_levels_micro = round(1e6·exp(H))` evaluated on
    * the already-floored entropy (stated — the replayable order);
    * `top_share_micro = max(c)·1e6 DIV N`.
    *
    * Rules, each STATED: NULL category is a REAL level ("(null)" —
    * an audit must see it, the X153 stance); N = 1 → NULL simpson
    * (the unbiased form needs two draws) but entropy 0 stands;
    * NULL family keys pass through as groups. No budget refusal
    * needed: every product is ≤ N² in DECIMAL(38,0) and the entropy
    * terms are per-cell chains.
    *
    * Scale shape: ONE (family, level) keyed aggregation with map-side
    * combine + one family rollup, stitched by two NULL-SAFE (`<=>`)
    * family-keyed joins over family-sized frames — no windows, no
    * driver state. Output: one row per family — `(families…, n, k_levels,
    * entropy_micro, simpson_micro, eff_levels_micro,
    * top_share_micro)`. */
  def diversityReport(df: DataFrame, families: Seq[String],
      category: Column): DataFrame = {
    val d = org.apache.spark.sql.types.DecimalType(38, 0)
    val fam = families.map(col)
    val cells = df.select(fam :+
        coalesce(category.cast("string"), lit("(null)")).as("__l"): _*)
      .groupBy(fam :+ col("__l"): _*)
      .agg(count(lit(1)).as("__c"))
      // scanned once: the totals, the terms, and the rollup read the
      // cached cells (category²-free — cells are level-sized)
      .persist()
    try {
      // null-safe family joins (the pettitt idiom): the doc's "NULL
      // family keys pass through as groups" needs <=> — a plain equi-
      // join would silently drop NULL-keyed groups (ADVICE r17)
      def joinOn(l: DataFrame, r: DataFrame): DataFrame = {
        val rr = r.select(families.zipWithIndex.map { case (g, i) =>
          col(g).as(s"__j$i") } ++
          r.columns.filterNot(families.contains).map(col).toSeq: _*)
        val cond = families.zipWithIndex
          .map { case (g, i) => l(g) <=> rr(s"__j$i") }.reduce(_ && _)
        l.join(rr, cond).drop(families.indices.map(i => s"__j$i"): _*)
      }
      val tot = cells.groupBy(fam: _*)
        .agg(sum(col("__c")).as("n"), count(lit(1)).as("k_levels"))
      val terms = joinOn(cells, tot.select(fam :+ col("n").as("__N"): _*))
        // the 1e6·c product rides a DOUBLE (exact for c ≤ 2^53/1e6 —
        // well past the 2e9-row scales here): the former Long multiply
        // wrapped silently above c ≈ 9.2e12 (ADVICE r17)
        .withColumn("__g", expr(
          """CAST(round(1000000 * CAST(__c AS DOUBLE) *
            |  ln(CAST(__N AS DOUBLE) / __c)) AS BIGINT)""".stripMargin))
        .groupBy(fam: _*)
        .agg(sum(col("__g").cast(d)).as("__G"),
          sum(col("__c").cast(d) * (col("__c") - 1)).as("__S2"),
          max(col("__c")).as("__top"))
      joinOn(tot, terms)
        .withColumn("entropy_micro", expr(
          """CAST((__G - __G % CAST(n AS DECIMAL(38,0)))
            | / CAST(n AS DECIMAL(38,0)) AS BIGINT)""".stripMargin))
        .withColumn("simpson_micro", when(col("n") >= 2, expr(
          """1000000 - CAST((__S2 * 1000000 - (__S2 * 1000000)
            |  % (CAST(n AS DECIMAL(38,0)) * (n - 1)))
            | / (CAST(n AS DECIMAL(38,0)) * (n - 1)) AS BIGINT)"""
            .stripMargin)))
        .withColumn("eff_levels_micro", expr(
          """CAST(round(1000000 *
            |  exp(CAST(entropy_micro AS DOUBLE) / 1e6)) AS BIGINT)"""
            .stripMargin))
        .withColumn("top_share_micro", expr(
          """CAST((CAST(__top AS DECIMAL(38,0)) * 1000000
            |  - (CAST(__top AS DECIMAL(38,0)) * 1000000)
            |    % CAST(n AS DECIMAL(38,0)))
            | / CAST(n AS DECIMAL(38,0)) AS BIGINT)""".stripMargin))
        .select(fam :+ col("n") :+ col("k_levels") :+
          col("entropy_micro") :+ col("simpson_micro") :+
          col("eff_levels_micro") :+ col("top_share_micro"): _*)
        .localCheckpoint(true)
    } finally cells.unpersist()
  }

  /** X172 — proportion report with Wilson score intervals (Wilson,
    * JASA 1927; Brown/Cai/DasGupta 2001 is the study that made Wilson
    * the recommended default): per-group success rate with the
    * interval conversion dashboards actually need — the naive Wald
    * interval p̂ ± z·√(p̂(1−p̂)/n) collapses to zero width at p̂ ∈
    * {0, 1} and escapes [0, 1] near the edges, which is exactly where
    * small-segment conversion/defect/violation rates live; Wilson
    * stays inside (0, 1) and keeps coverage at extreme rates, no
    * continuity fudge needed. The X86 scorecard compares two arms;
    * THIS is the per-segment readout ("rate by source, with honest
    * error bars") a drill-down table is made of.
    *
    * Exactness: k and n are exact integer counts from ONE keyed
    * aggregation; `rate_micro = k·1e6 DIV n` is a single floor; the
    * interval is ONE stated IEEE chain per bound over the exact
    * integers — with z² carried as z_µ²/1e12:
    * `center = (k + z²/2) / (n + z²)`,
    * `hw = z·√(k·(n−k)/n + z²/4) / (n + z²)`,
    * `lo/hi = round(1e6·(center ∓ hw))` — both bounds PROVABLY inside
    * (0, 1) (the Wilson property; no clamp, the X145 stance). The z
    * quantile is a CALLER-STATED micro literal (default 1959964 =
    * 97.5th percentile, the 95% two-sided interval — no engine
    * evaluates an inverse normal, the X112 remove-the-float move).
    *
    * Rules, each STATED: label must be exactly 0/1 or boolean
    * (REFUSED otherwise); NULL label drops; empty groups are absent;
    * zMicro ∈ (0, 1e7] REFUSED outside (a 10σ interval is a spec
    * bug). No n budget needed — the chain is double-side.
    *
    * Scale shape: ONE map-side-combinable keyed aggregation; no
    * joins, no windows, no driver state. Output: `(families…, n,
    * k_pos, rate_micro, wilson_lo_micro, wilson_hi_micro)`. */
  def proportionReport(df: DataFrame, families: Seq[String],
      label: Column, zMicro: Long = 1959964L): DataFrame = {
    require(zMicro > 0 && zMicro <= 10000000L,
      s"zMicro must be in (0, 1e7], got $zMicro")
    val d = org.apache.spark.sql.types.DecimalType(38, 0)
    val fam = families.map(col)
    // DOUBLE-cast check: fractional labels REFUSE instead of
    // truncating past the check (ADVICE r17, the averagePrecision fix)
    val agg = Refuse.rows(df.select(fam :+ label.cast("long").as("__y") :+
        label.cast("double").as("__yd"): _*)
      .filter(col("__y").isNotNull),
      !coalesce(col("__yd") === 0d || col("__yd") === 1d, lit(false)) -> lit(
        "proportionReport: label must be exactly 0/1 or boolean — " +
          "threshold upstream"))
      .groupBy(fam: _*)
      .agg(count(lit(1)).as("n"), sum(col("__y")).as("k_pos"))
    val z = zMicro.toDouble / 1e6
    val z2 = s"(${zMicro.toDouble} * ${zMicro.toDouble} / 1e12)"
    agg
      .withColumn("rate_micro", expr(
        """CAST((CAST(k_pos AS DECIMAL(38,0)) * 1000000
          |  - (CAST(k_pos AS DECIMAL(38,0)) * 1000000)
          |    % CAST(n AS DECIMAL(38,0)))
          | / CAST(n AS DECIMAL(38,0)) AS BIGINT)""".stripMargin))
      .withColumn("wilson_lo_micro", expr(
        s"""CAST(round(1000000 * (
           |  (CAST(k_pos AS DOUBLE) + $z2 / 2)
           |    / (CAST(n AS DOUBLE) + $z2)
           |  - $z * sqrt(CAST(k_pos AS DOUBLE)
           |      * (CAST(n AS DOUBLE) - k_pos) / n + $z2 / 4)
           |    / (CAST(n AS DOUBLE) + $z2))) AS BIGINT)""".stripMargin))
      .withColumn("wilson_hi_micro", expr(
        s"""CAST(round(1000000 * (
           |  (CAST(k_pos AS DOUBLE) + $z2 / 2)
           |    / (CAST(n AS DOUBLE) + $z2)
           |  + $z * sqrt(CAST(k_pos AS DOUBLE)
           |      * (CAST(n AS DOUBLE) - k_pos) / n + $z2 / 4)
           |    / (CAST(n AS DOUBLE) + $z2))) AS BIGINT)""".stripMargin))
      .select(fam :+ col("n") :+ col("k_pos") :+ col("rate_micro") :+
        col("wilson_lo_micro") :+ col("wilson_hi_micro"): _*)
      .localCheckpoint(true)
  }
}
