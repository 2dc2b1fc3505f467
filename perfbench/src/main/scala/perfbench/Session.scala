package perfbench

import java.nio.file.Path
import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

object Session {

  /** Shuffle partitions per core. AQE stays on (Spark's default): it
    * coalesces small shuffles and picks broadcast joins for small sides. One
    * partition per core keeps the stores' file counts, and the per-file cost
    * of every merge and sync, at what a cluster sized to its data would see. */
  val PartitionsPerCore = 1

  def start(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$cores")
      .config("spark.sql.shuffle.partitions", (cores * PartitionsPerCore).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", work.resolve("checkpoints").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/**
 * The two listener totals the untraced runs keep: executor run time of all
 * tasks, and the storage memory held by cached RDD blocks (current and peak).
 */
final class Totals extends SparkListener {
  private var executorMs = 0L
  private val cached = mutable.Map.empty[String, Long]
  private var cachedNow = 0L
  private var cachedPeak = 0L

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.taskMetrics != null) executorMs += e.taskMetrics.executorRunTime
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = info.blockManagerId.executorId + "/" + info.blockId.name
      val mem = if (info.storageLevel.isValid) info.memSize else 0L
      cachedNow += mem - cached.getOrElse(key, 0L)
      if (mem == 0L) cached.remove(key) else cached(key) = mem
      cachedPeak = math.max(cachedPeak, cachedNow)
    }
  }

  def executorSeconds: Double = synchronized(executorMs / 1000.0)

  /** Starts a new peak window from the memory cached right now. */
  def resetPeak(): Unit = synchronized { cachedPeak = cachedNow }

  def peakCachedMb: Double = synchronized(cachedPeak / 1048576.0)
}
