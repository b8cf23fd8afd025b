package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-mitigation helpers: two-phase (salted) aggregation.
  *
  * A groupBy on a skewed key routes the hot key's entire volume to one
  * reducer. Salting splits each key into `salt` sub-keys, pre-
  * aggregates per (key, salt) — spreading the hot key across `salt`
  * reducers — then combines the partials with a second, tiny shuffle.
  * AQE's skew handling covers joins; this covers aggregations, where
  * the partial-combine must be expressed manually.
  *
  * The salt is derived from a deterministic row expression (not
  * rand()) so results are reproducible and retries are safe.
  */
object Salted {

  /** The helpers inject fixed intermediate columns (`__salt`, `__c`,
    * `__partial`, `__p_<name>`). An input that already carries one
    * would be silently clobbered by `withColumn` or folded into the
    * wrong grouping — rejected loudly instead (ADVICE r10).
    */
  private def requireAbsent(df: DataFrame, reserved: Seq[String]): Unit = {
    val clash = df.columns.toSet.intersect(reserved.toSet)
    require(clash.isEmpty,
      s"input already has reserved intermediate column(s) ${clash.toSeq.sorted.mkString(", ")}; " +
        "rename them before salting")
  }

  /** Sum `valueCol` per `key`, salted over a deterministic `saltBy`
    * expression. Equivalent to `df.groupBy(key).agg(sum(valueCol))`.
    */
  def sumByKey(df: DataFrame, key: String, valueCol: Column, resultName: String,
      saltBy: Column, salt: Int = 16): DataFrame = {
    requireAbsent(df, Seq("__salt", "__partial"))
    df.withColumn("__salt", pmod(hash(saltBy), lit(salt)))
      .groupBy(col(key), col("__salt"))
      .agg(sum(valueCol).as("__partial"))
      .groupBy(col(key))
      .agg(sum(col("__partial")).as(resultName))
  }

  /** Skew-proof dictionary lookup: inner equi-join of a corpus-sized
    * `fact` against a `dict` whose keys are UNIQUE, where one fact key
    * may be hot (a stopword token, a boilerplate n-gram).
    *
    * Why not AQE: OptimizeSkewedJoin's pattern requires BOTH join
    * inputs to be bare shuffle stages; when the dictionary is an
    * aggregate whose `hashpartitioning(key)` feeds the join directly —
    * the df join-back shape in t12/t14/d14 — the rule never matches
    * and the hot partition is NOT split (observed in SkewSpec: a
    * constructed stopword corpus leaves the fused join unsplit while
    * the same data in a scan-level join splits fine). Forcing an
    * extra ENSURE_REQUIREMENTS exchange on the dictionary would
    * re-enable AQE, but for a corpus-sized dictionary (d14's gram df)
    * that exchange costs a second near-fact-scale shuffle on EVERY
    * run to cover the occasional hot key.
    *
    * This is the deterministic alternative: replicate each dictionary
    * row across `salt` sub-keys and shuffle the fact on (key, salt) —
    * the hot key's probe rows spread over `salt` reducers while the
    * dictionary side grows by the bounded factor `salt`. The salt is
    * derived from a deterministic fact expression (not rand()), so
    * results are reproducible and retries safe. Inner-join-equivalent
    * to `fact.join(dict, key)` whenever dict keys are unique (each
    * fact row meets exactly one (key, salt) dictionary copy).
    *
    * Blanket replication suits metadata-to-moderate dictionaries; for
    * the CORPUS-sized df dictionaries of the t12/t14/t17/d14 join-
    * backs the production form is [[hotLookupJoin]], which pays the
    * `salt`-way copy only for the keys that are actually hot.
    */
  def lookupJoin(fact: DataFrame, dict: DataFrame, key: String,
      saltBy: Column, salt: Int = 16): DataFrame = {
    requireAbsent(fact, Seq("__salt"))
    requireAbsent(dict, Seq("__salt"))
    val replicated = dict.withColumn("__salt",
      explode(sequence(lit(0), lit(salt - 1))))
    fact.withColumn("__salt", pmod(hash(saltBy), lit(salt)))
      .join(replicated, Seq(key, "__salt"))
      .drop("__salt")
  }

  /** [[lookupJoin]] with the replication bill paid ONLY for hot keys —
    * the production form for the df join-back shape (t12/t14/t17/d14),
    * where the dictionary is itself corpus-sized (a token/gram/line
    * document-frequency table) and blanket `salt`-way replication
    * would multiply a near-fact-scale relation by 16 on every run.
    *
    * The trick: in this shape the dictionary's VALUE column is (or
    * tightly bounds) the fact-side row count per key — df(token) IS
    * how many probe rows that token has (t12's distinct per doc,
    * t14's tf groups, d14's per-doc gram groups; t17's line-df bounds
    * occurrences for the boilerplate lines that matter). So the
    * dictionary itself identifies its hot keys, with a RELATIVE
    * threshold: a key is hot iff `df * hotInv >= total` (default ≥5%
    * of documents — scale-invariant, no absolute knob to re-tune as
    * the corpus grows). Then:
    *
    *   - hot keys (≤ hotInv · avg-keys-per-doc of them, a counting
    *     bound — broadcast-sized by construction) are replicated
    *     across `salt` sub-keys, exactly [[lookupJoin]];
    *   - cold keys keep ONE copy with sub-key 0;
    *   - the fact learns each row's temperature from a BROADCAST of
    *     the hot-key set (a map-side tag join — no shuffle), salting
    *     hot rows by a deterministic expression and cold rows to 0.
    *
    * One equi-join on (key, __salt), one fact pass, dictionary growth
    * bounded by `salt · |hot|` instead of `salt · |dict|`. Inner-join-
    * equivalent to `fact.join(dict, key)` for unique-keyed
    * dictionaries: every fact row meets exactly one dictionary copy
    * (its key's own salt slice if hot, slice 0 if cold), and both
    * sides decide hotness from the same predicate on the same
    * dictionary. `total` is a one-row scalar relation (the corpus
    * count the callers already broadcast).
    */
  def hotLookupJoin(fact: DataFrame, dict: DataFrame, key: String, dfCol: String,
      total: DataFrame, totalCol: String, saltBy: Column,
      hotInv: Int = 20, salt: Int = 16): DataFrame = {
    requireAbsent(fact, Seq("__salt", "__hot", totalCol))
    requireAbsent(dict, Seq("__salt", "__hot", totalCol))
    require(hotInv >= 1 && salt >= 1, s"hotInv/salt must be >= 1, got $hotInv/$salt")
    // the hot flag is computed ONCE, on one tagged relation both
    // branches share (VERDICT r13 #2): the broadcast hot-set branch and
    // the replication branch previously each re-derived
    // crossJoin(total) + isHot from `dict`, giving Catalyst two
    // textually distinct subplans; with a single `tagged` definition
    // the two consumers are identical up to the final projection, so
    // ReuseExchange collapses the dict aggregate's shuffle to one
    // execution instead of two
    val tagged = dict.crossJoin(broadcast(total))
      .withColumn("__hot", col(dfCol) * hotInv >= col(totalCol))
      .drop(totalCol)
    val hot = tagged.filter(col("__hot")).select(col(key), col("__hot"))
    val factS = fact.join(broadcast(hot), Seq(key), "left")
      .withColumn("__salt",
        when(col("__hot"), pmod(hash(saltBy), lit(salt))).otherwise(lit(0)))
      .drop("__hot")
    val dictS = tagged.withColumn("__salt", explode(
        when(col("__hot"), sequence(lit(0), lit(salt - 1))).otherwise(array(lit(0)))))
      .drop("__hot")
    factS.join(dictS, Seq(key, "__salt")).drop("__salt")
  }

  /** [[sumByKey]] generalized to a row count plus several summed
    * measures at once (same two-phase shape, one salted shuffle for
    * all of them). Counts re-sum and sums re-sum, so any measure whose
    * partial is EXACT under addition — longs, decimals — merges
    * bit-exactly; pass decimal-cast columns for float measures (the
    * q28 partial-merge discipline).
    */
  def countAndSumsByKey(df: DataFrame, key: String,
      values: Seq[(Column, String)], countName: String,
      saltBy: Column, salt: Int = 16): DataFrame = {
    requireAbsent(df, "__salt" +: "__c" +: values.map { case (_, n) => s"__p_$n" })
    val partials = count(lit(1)).as(s"__c") +:
      values.map { case (c, n) => sum(c).as(s"__p_$n") }
    val merged = sum(col("__c")).as(countName) +:
      values.map { case (_, n) => sum(col(s"__p_$n")).as(n) }
    df.withColumn("__salt", pmod(hash(saltBy), lit(salt)))
      .groupBy(col(key), col("__salt"))
      .agg(partials.head, partials.tail: _*)
      .groupBy(col(key))
      .agg(merged.head, merged.tail: _*)
  }
}
