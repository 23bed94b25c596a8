package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Shared hot-key skew guard for the window-sort operator family
  * ([[Sessions.sessionize]], [[TemporalJoins.asofJoin]],
  * [[Packing.packStream]]) — the per-key window formulations are one
  * shuffle and a per-key sort, which is exactly right until one
  * degenerate key (a bot-grade entity with 10^8 events, one giant pack
  * group) serializes into a single task's sort. This is the same hazard
  * class the LSH family guards with [[Dedup.capBuckets]] /
  * [[Dedup.hotBandBuckets]]; this object is the window-sort mirror.
  * [[Dedup.dedupLines]] takes the same guard with no per-key stage to
  * protect: it counts exploded lines per id and uses the guard only to
  * route degenerate ids out of its census and output.
  *
  * Detection never sorts: per-key row counts come from a hash aggregate
  * with map-side partial combine — a 10^8-row key costs one long of
  * state per map task — and the resulting hot-key set is SMALL BY
  * CONSTRUCTION (keys above a row-count threshold), so membership tests
  * broadcast it back and the corpus never shuffles to learn who is hot.
  *
  * Policies ([[SkewGuard]]):
  *  - [[SkewGuard.Off]] — no guard (the default everywhere; plans are
  *    byte-identical to the unguarded formulations).
  *  - [[SkewGuard.Raise]] — EAGERLY count at call time and throw with a
  *    key sample if any key exceeds the cap: the fail-fast mode for
  *    pipelines that must never silently drop data. Costs one count job
  *    over the input when the operator is CALLED (not when its result
  *    executes).
  *  - [[SkewGuard.Drop]] — exclude hot keys' rows from the windowed
  *    computation, lazily: the hot-key aggregate rides the plan as a
  *    broadcast side. Dropped keys are recoverable via [[hotKeys]] on
  *    the same input (deterministic — same counts, same set) and should
  *    be routed to a degenerate-key path, e.g. [[Dedup.exactDuplicates]]
  *    for bot spam or per-key downsampling. NOTE the input is read twice
  *    (once for the hot-key aggregate, once for the main pass) — persist
  *    the input first if the scan is expensive.
  */
object HotKeys {

  /** Guard policy for per-key window-sort operators. `maxRows` is the
    * per-key row-count cap — size it to what one task's sort buffer
    * comfortably holds (rows × row width ≪ executor memory). */
  sealed trait SkewGuard
  object SkewGuard {
    case object Off extends SkewGuard
    final case class Raise(maxRows: Long) extends SkewGuard {
      require(maxRows >= 1, "maxRows must be >= 1")
    }
    final case class Drop(maxRows: Long) extends SkewGuard {
      require(maxRows >= 1, "maxRows must be >= 1")
    }
  }

  /** Keys with MORE than `maxRows` rows, as (keyCols…, n) — the public
    * routing surface: what [[SkewGuard.Drop]] excludes, linear in the
    * input (hash aggregate, no sort, no per-key blow-up). */
  def hotKeys(df: DataFrame, keyCols: Seq[String], maxRows: Long): DataFrame = {
    require(keyCols.nonEmpty, "hotKeys needs at least one key column")
    df.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n"))
      .where(col("n") > maxRows)
  }

  private lazy val log = org.slf4j.LoggerFactory.getLogger("graft.ops.HotKeys")

  /** Apply `guard` to `df` ahead of a per-key window sort. Returns the
    * frame the operator should window over; see [[SkewGuard]] for the
    * per-policy contract. */
  private[ops] def applyGuard(df: DataFrame, keyCols: Seq[String],
                              guard: SkewGuard, op: String): DataFrame =
    applyGuardBy(df, keyCols, df, keyCols, guard, op)

  /** [[applyGuard]] with the per-key rows counted in `counted` (keyed by
    * `countedKeys`, matched to `keyCols` by position) instead of `df`:
    * for an operator whose cap bounds a derived unit, e.g. the exploded
    * lines of each document. */
  private[ops] def applyGuardBy(df: DataFrame, keyCols: Seq[String],
                                counted: DataFrame, countedKeys: Seq[String],
                                guard: SkewGuard, op: String): DataFrame =
    guard match {
      case SkewGuard.Off => df
      case SkewGuard.Raise(max) =>
        val sample = hotKeys(counted, countedKeys, max).take(5)
        if (sample.nonEmpty)
          throw new IllegalStateException(
            s"$op: ${sample.length}+ key(s) exceed $max rows — the per-key " +
            s"window sort would serialize them into single tasks. Sample: " +
            sample.mkString("; ") + ". Route them separately (HotKeys." +
            "hotKeys) or use SkewGuard.Drop.")
        df
      case SkewGuard.Drop(max) =>
        log.warn(s"$op: dropping keys over $max rows from the window " +
          "pass; recover them via HotKeys.hotKeys on the same input")
        // broadcast conditional join, not an anti-join: the hot set is
        // small by construction and the corpus side must not shuffle.
        // NULL-SAFE key equality is load-bearing: a NULL key is a classic
        // degenerate hot key (unattributed events), and a name-based join
        // would never match it — the guard would log a drop and keep
        // every row
        val hot = broadcast(hotKeys(counted, countedKeys, max)
          .select(countedKeys.zipWithIndex.map { case (k, i) =>
            col(k).as(s"_hk$i") }: _*)
          .withColumn("_hot", lit(true)))
        val cond = keyCols.zipWithIndex
          .map { case (k, i) => df(k) <=> hot(s"_hk$i") }
          .reduce(_ && _)
        df.join(hot, cond, "left")
          .where(col("_hot").isNull)
          .drop((keyCols.indices.map(i => s"_hk$i") :+ "_hot"): _*)
    }
}
