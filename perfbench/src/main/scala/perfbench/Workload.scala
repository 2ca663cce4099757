package perfbench

import scala.collection.mutable

/** One request of a closed-loop client. `run` returns the number of rows
  * handed back to the caller and throws when the call fails or its output
  * is wrong.
  */
final case class Op(kind: String, family: String, name: String, run: () => Long)

/** A benchmark workload: set-up, the ops of each round of the closed loop,
  * and the output checks made after measuring.
  */
trait Workload {
  /** Load the inputs and warm until steady; returns the seconds taken. */
  def setup(): Double
  /** The ops of round `r`. Every round holds the same kinds of op, in a
    * seeded order, so runs with different seeds do the same mix of work.
    */
  def round(r: Int): Seq[Op]
  /** Output checks after measuring: (name, failure reason if any). */
  def check(): Seq[(String, Option[String])]
  /** Generated input sizes, reported in the result. */
  def sizes: mutable.LinkedHashMap[String, Any]
  /** Layer metrics that come from set-up rather than from op spans. */
  def layerMetrics: mutable.LinkedHashMap[String, Double]
  /** Rows the check pass saw per op name, when `run` cannot count them. */
  def rowsOf(opName: String): Long = 0L
}
