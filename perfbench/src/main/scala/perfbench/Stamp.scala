package perfbench

import java.lang.management.ManagementFactory
import org.apache.spark.sql.SparkSession

/** Host shape and configuration every result is stamped with. The source
  * digest and git commit come from the launcher (`-Dperfbench.*`), since a
  * benchmark checkout need not be a git repository. */
object Stamp {
  def of(spark: SparkSession, o: Opts, cores: Int): Seq[(String, Any)] = {
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val conf = spark.conf
    Seq(
      "workload" -> o.workload,
      "seed" -> o.seed,
      "seconds" -> o.seconds,
      "trace" -> o.trace,
      "vcpu" -> Runtime.getRuntime.availableProcessors,
      "ram_gb" -> os.getTotalMemorySize / 1073741824.0,
      "jvm_max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "jdk" -> System.getProperty("java.version"),
      "spark" -> spark.version,
      "master" -> s"local[$cores]",
      "shuffle_partitions" -> conf.get("spark.sql.shuffle.partitions"),
      "aqe" -> conf.get("spark.sql.adaptive.enabled"),
      "git_commit" -> Option(System.getProperty("perfbench.git_commit")),
      "source_digest" -> Option(System.getProperty("perfbench.source_digest")))
  }
}
