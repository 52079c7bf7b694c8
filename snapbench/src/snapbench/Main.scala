package snapbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** The benchmark JVM: `snapbench.Main --workload W --seed N --seconds S
  * --trace 0|1 --work DIR --data DIR --out FILE [--sqlite-check CMD...]`.
  * Writes one JSON object to `--out`; `run.py` adds the DuckDB check and
  * prints the result line.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val wl = Workload(args("workload"))
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args.get("trace").contains("1")
    val work = Paths.get(args("work")).toAbsolutePath
    val check = args.get("sqlite-check").map(_.split(' ').toSeq)
    val jvmStart = Jvm.startNs
    Jvm.install()

    val loopStart = Jvm.hostLoop()
    val t0 = System.nanoTime()
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = Session.build(cores)
    val t1 = System.nanoTime()
    val h = new Harness(spark, wl, seed, work, args("data"), check)
    val t2 = System.nanoTime()
    val warm = h.cycle(0, traced = false)
    val firstTimed = System.nanoTime()
    val ticks0 = Jvm.cpuTicks()

    val cycles = mutable.ArrayBuffer.empty[CycleRec]
    // timed cycles fill `seconds`: another cycle starts only if one more
    // of the last cycle's length still fits. A traced run traces the even
    // cycles, each between two untraced ones, which measure its overhead.
    val minCycles = if (trace) 3 else 2
    var c = 1
    var last = 0.0
    while (c <= minCycles || (System.nanoTime() - firstTimed) / 1e9 + last <= seconds) {
      val t = System.nanoTime()
      cycles += h.cycle(c, traced = trace && c % 2 == 0)
      last = (System.nanoTime() - t) / 1e9
      c += 1
    }
    val ticks1 = Jvm.cpuTicks()
    val loopEnd = Jvm.hostLoop()

    val all = warm +: cycles.toSeq
    val attempted = all.map(_.attempted).sum
    val failed = all.map(_.failed).sum
    val m = new Metrics(h, cycles.toSeq, cores)
    val e2e = Seq(
      "setup_s" -> ((firstTimed - jvmStart) / 1e9, "s"),
      "snapshot_s" -> (m.snapshotS, "s"),
      "query_s" -> (m.queryS, "s"),
      "query_geomean_s" -> (m.queryGeomeanS, "s"),
      "stored_bytes_per_row" -> (m.storedBytesPerRow, "B/row"),
      "heap_alloc_mb" -> (m.heapAllocMb, "MB"),
      "ok_frac" -> ((attempted - failed).toDouble / attempted, "frac"))
    val extra = Seq(
      "setup.session_s" -> ((t1 - t0) / 1e9, "s"),
      "setup.generate_s" -> ((t2 - t1) / 1e9, "s"),
      "setup.warmup_s" -> ((firstTimed - t2) / 1e9, "s"),
      "host.loop_s" -> ((loopStart + loopEnd) / 2, "s"),
      "host.steal_frac" -> ((ticks1._1 - ticks0._1).toDouble / math.max(1L, ticks1._2 - ticks0._2), "frac"),
      "jvm.codegen_compiles" -> (Metrics.median(cycles.map(_.compiles.toDouble).toSeq), "count"),
      "jvm.gc_s" -> (Metrics.median(cycles.map(_.gcMs / 1e3).toSeq), "s"),
      "jvm.jit_s" -> (Metrics.median(cycles.map(_.jitMs / 1e3).toSeq), "s"),
      "cycles" -> (cycles.size.toDouble, "count"))
    val layers = if (trace) m.perLayer ++ extra.filterNot(_._1 == "cycles") else Nil

    def obj(kv: Seq[(String, (Double, String))]): String = kv.map { case (k, (v, u)) =>
      s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}"
    }.mkString("{", ",", "}")
    val json =
      s"""{"attempted":$attempted,"failed":$failed,""" +
        s""""failures":${h.failures.map(Json.str).mkString("[", ",", "]")},""" +
        s""""end_to_end":${obj(e2e)},"extra":${obj(extra)},"per_layer":${obj(layers)},""" +
        s""""sparkentry_dir":${Json.str(h.sparkEntryDir.toString)},""" +
        s""""sparkentry_ops":${h.sparkEntryOps.toSeq.sorted.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")},""" +
        s""""oracle_sql":${wl.sparkEntry.map(q => s"${Json.str(q)}:${Json.str(graft.SparkEntry.oracleSql(q))}").mkString("{", ",", "}")}}"""
    Files.write(Paths.get(args("out")), json.getBytes("UTF-8"))
    spark.stop()
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
}
