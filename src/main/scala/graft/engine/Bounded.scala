package graft.engine

import org.apache.spark.sql.{DataFrame, Row}

/** Driver-fold boundedness guard (r16 verdict ask #6): the three
  * driver-side replay folds (log_markov_stationary, log_removal_effect,
  * sim_pca_top_component) collect frames whose size is bounded by a
  * structural property of the data — the event-type alphabet or the
  * embedding dimension — not by an enforced invariant. This helper
  * makes the bound ENFORCED at the collect site: a frame that exceeds
  * its documented cap fails loudly with the cap in the message instead
  * of silently growing a driver loop. The cap is a correctness fuse,
  * not a tuning knob — at 100 TB the folds stay safe exactly because
  * the collected frames are alphabet/dim-bounded, never corpus-scale.
  * The collect itself is capped at cap+1 rows, so an oversized frame
  * fails before the driver holds more than one row past the bound.
  */
object Bounded {
  def collect(df: DataFrame, cap: Int, what: String): Array[Row] = {
    val rows = df.limit(cap + 1).collect()
    require(rows.length <= cap,
      s"$what: at least ${rows.length} rows exceed the documented <=$cap " +
        "bound the driver fold is sized for")
    rows
  }
}
