package perfbench

import java.io.File
import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

/** Working directories one session owns: the SQL warehouse (standing
  * index tables), the RDD checkpoint dir and Spark's local dir. Made
  * empty by [[Session.start]] and deleted by [[Session.stop]], so no
  * session inherits another's standing tables. */
final case class StateDirs(root: Path) {
  val warehouse: Path = root.resolve("warehouse")
  val checkpoint: Path = root.resolve("checkpoint")
  val local: Path = root.resolve("local")
}

/** Sessions under graft.Verify's conf: AQE on, shuffle partitions =
  * cpus, UTC, parquet nanos read as long, the graft extensions. */
object Session {

  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def conf(dirs: StateDirs): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.extensions" -> "graft.GraftExtensions",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.warehouse.dir" -> dirs.warehouse.toUri.toString,
    "spark.local.dir" -> dirs.local.toString)

  def start(dirs: StateDirs): SparkSession = {
    deleteTree(dirs.root)
    Seq(dirs.warehouse, dirs.checkpoint, dirs.local).foreach(Files.createDirectories(_))
    val spark = conf(dirs).foldLeft(SparkSession.builder()) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.setCheckpointDir(dirs.checkpoint.toString)
    spark
  }

  def stop(spark: SparkSession, dirs: StateDirs): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    deleteTree(dirs.root)
  }

  def deleteTree(p: Path): Unit = {
    def rm(f: File): Unit = {
      if (f.isDirectory && !Files.isSymbolicLink(f.toPath))
        Option(f.listFiles).foreach(_.foreach(rm))
      f.delete()
    }
    rm(p.toFile)
  }
}
