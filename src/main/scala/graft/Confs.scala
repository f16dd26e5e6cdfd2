package graft

import org.apache.spark.sql.SparkSession

/** Scoped session conf and validated conf reads.
  *
  * Session conf is shared by every query on the session, so a scope
  * assumes the session runs one query at a time: a query running
  * concurrently on the same session would see the scoped values. */
object Confs {
  private val ShufflePartitions = "spark.sql.shuffle.partitions"

  /** Run `body` with each `key -> value` set, then restore each key's
    * prior value, or unset a key that was not set before — also when
    * `body` throws. Plans built inside but executed after the scope do
    * NOT see the values: anything that reads conf at execution must
    * execute inside `body`. */
  def scoped[T](s: SparkSession, kvs: (String, String)*)(body: => T): T = {
    // getAll, not getOption: getOption reports a registered key's
    // default as if it were set, and restoring that would leave the
    // key set explicitly
    val explicit = s.conf.getAll
    val prior = kvs.map { case (k, _) => k -> explicit.get(k) }
    try {
      kvs.foreach { case (k, v) => s.conf.set(k, v) }
      body
    } finally prior.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  /** [[scoped]] with shuffle partitions at `min(n, current)`: a cap
    * never raises the session's own value. */
  def shufflePartitionsAtMost[T](s: SparkSession, n: Int)(body: => T): T = {
    val current = positive(ShufflePartitions, s.conf.get(ShufflePartitions))
    scoped(s, ShufflePartitions -> math.min(n, current).toString)(body)
  }

  /** `key` as a positive Int, `default` when unset. */
  def posInt(s: SparkSession, key: String, default: Int): Int =
    s.conf.getOption(key).fold(default)(positive(key, _))

  private[graft] def positive(name: String, v: String): Int =
    v.trim.toIntOption.filter(_ >= 1).getOrElse(throw new IllegalArgumentException(
      s"$name must be a positive integer, got '$v'"))
}
