package perfbench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession

/** An op whose output did not match its expected value. */
final class WrongOutput(msg: String) extends RuntimeException(msg)

/** One benchmark workload: inputs made from the seed before timing, then
  * passes of closed-loop ops (one client, one op at a time). */
trait Workload {
  def name: String

  /** Inputs and settings worth recording with the result. */
  def describe: Map[String, Any]

  /** Run every op of one pass in `spark`, using `dir` for scratch files. */
  def pass(spark: SparkSession, passNo: Int, dir: Path, tracer: Tracer): Seq[Op]

  /** The workload's own headline figure over the ops of some passes
    * that took `seconds` in all: (name, value, unit). */
  def headline(ops: Seq[Op], seconds: Double): (String, Double, String)

  def close(): Unit = ()
}
