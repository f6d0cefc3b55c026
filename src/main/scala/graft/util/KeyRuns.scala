package graft.util

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions.col

/** The distribution shape of every per-key streaming pass in this codebase
  * (the simulation kernel's per-scenario replay, the backtest mount's
  * per-symbol scan): `repartition(key)` + `sortWithinPartitions(key,
  * order)`. Each key's rows then arrive in one partition as ONE contiguous
  * run in `order`, so a `mapPartitions` over the result can fold run after
  * run with state scoped to a single key — one shuffle, no per-key
  * grouping buffers. */
object KeyRuns {
  def apply[T](ds: Dataset[T], key: String, order: String): Dataset[T] =
    ds.repartition(col(key)).sortWithinPartitions(col(key), col(order))
}
