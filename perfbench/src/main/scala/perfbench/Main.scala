package perfbench

import java.nio.file.Paths
import org.apache.spark.sql.SparkSession

/**
 * Deviation-engine benchmark, one run:
 *
 *   Main --workload <flagship|replication> --seed <n> --seconds <s>
 *        --trace <0|1> --work <dir>
 *
 * Prints a stamp line (host shape, config, input sizes, check outcomes) and,
 * as the last line, the result object {correct, attempted, failed, metrics}.
 * `--work` holds every file the run writes and is deleted at the end.
 */
object Main {

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    val known = Set("workload", "seed", "seconds", "trace", "work")
    val unknown = kv.keySet -- known
    require(unknown.isEmpty, s"unknown options: ${unknown.mkString(", ")}")
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val trace = need("trace")
    require(trace == "0" || trace == "1", s"--trace must be 0 or 1, got $trace")
    val workload = need("workload")
    require(Workload.names.contains(workload),
      s"unknown workload '$workload' (expected one of ${Workload.names.mkString(", ")})")
    Opts(
      workload = workload,
      seed = need("seed").toLong,
      seconds = need("seconds").toDouble,
      trace = trace == "1",
      work = Paths.get(need("work")).toAbsolutePath)
  }

  def main(args: Array[String]): Unit = {
    val code =
      try {
        val o = parse(args)
        val out = try Runner.run(o) finally Workload.deleteTree(o.work)
        println(Json.obj(Seq("stamp" -> Json.obj(out.stamp),
          "checks" -> Json.arr(out.checks.map(c => Json.obj(Seq(
            "name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)))))).json)
        println(Json.result(out))
        0
      } catch {
        case e: Throwable =>
          Runner.warn(s"run failed: $e")
          e.printStackTrace()
          1
      }
    System.out.flush()
    SparkSession.getActiveSession.foreach(_.stop())
    sys.exit(code)
  }
}

/** Minimal JSON writer for the result and stamp lines. */
object Json {
  def str(s: String): String = graft.core.Json.quote(s)

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Number => n.toString
    case Some(x) => value(x)
    case None => "null"
    case raw: Raw => raw.json
    case other => str(other.toString)
  }

  final case class Raw(json: String)

  def obj(fields: Seq[(String, Any)]): Raw =
    Raw(fields.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}"))

  def arr(xs: Seq[Any]): Raw = Raw(xs.map(value).mkString("[", ",", "]"))

  def result(o: Outcome): String = obj(Seq(
    "correct" -> o.correct,
    "attempted" -> o.attempted,
    "failed" -> o.failed,
    "metrics" -> obj(o.metrics.map(m => m.name -> obj(Seq("value" -> m.value, "unit" -> m.unit))))
  )).json
}
