package graftbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Entry point of the benchmark's JVM side. `perfbench/run.py` generates the
  * inputs, starts this main with `--key value` options, and reads back the
  * raw JSON it writes to `--out`; every metric and check is derived there.
  *
  * Options: `--workload stream_ref|corpus_curation`, `--input DIR`,
  * `--work DIR`, `--seconds N`, `--trace 0|1`, `--cores N`, `--setups N`,
  * `--out FILE`, plus workload options read by each workload. */
object Main {
  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    val cfg = Cfg(opts)
    val raw = scala.collection.mutable.LinkedHashMap.empty[String, Any]
    raw("effective_cores") = effectiveCores(cfg.cores)
    val workload: Workload = cfg("workload") match {
      case "stream_ref" => new StreamRef(cfg)
      case "corpus_curation" => new Curation(cfg)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    // set-up: a fresh session plus the workload's input preparation, done
    // several times; the last session is the one measured
    var spark: SparkSession = null
    val setups = (1 to cfg.int("setups")).map { i =>
      if (spark != null) stopSession(spark)
      val t0 = System.nanoTime()
      val (_, work, _) = measured {
        spark = newSession(cfg)
        workload.setup(spark, i)
      }
      phase(s"set-up $i done")
      ((System.nanoTime() - t0) / 1e9, work / 1e9)
    }
    raw("setup_s") = setups.map(_._1)
    raw("setup_cpu_s") = setups.map(_._2)
    try workload.run(spark, raw)
    finally stopSession(spark)
    Files.writeString(Paths.get(cfg("out")), Json.render(raw))
  }

  /** Runs `f`; returns its result, its work CPU ns and its JIT CPU ns. Work
    * CPU is the process's CPU time over `f` minus that of the JIT compiler
    * threads; the counters are read outside the span. */
  def measured[A](f: => A): (A, Long, Long) = {
    val j0 = jitNs()
    val c0 = cpuNs()
    val out = f
    val cpu = cpuNs() - c0
    val jit = jitNs() - j0
    (out, cpu - jit, jit)
  }

  def newSession(cfg: Cfg): SparkSession =
    graft.GraftSession.local(cfg.cores, Map(
      "spark.local.dir" -> cfg.work.resolve("spark-local").toString,
      "spark.sql.warehouse.dir" -> cfg.work.resolve("warehouse").toString))

  def stopSession(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** A phase boundary, with the seconds since start, for the run log. */
  def phase(name: String): Unit =
    System.err.println(f"[perfbench] ${java.lang.management.ManagementFactory
      .getRuntimeMXBean.getUptime / 1000.0}%.1f s: $name")

  /** CPU time of the whole process (every thread, JIT and GC included), in
    * ns. Time the host gives to other guests is not charged to it, so it
    * moves far less than wall time on a shared host. */
  def cpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** CPU ns of the JIT compiler threads, from the per-thread counters in
    * /proc (10 ms resolution; the JVM keeps its compiler threads for its
    * whole life with -XX:-UseDynamicNumberOfCompilerThreads). */
  def jitNs(): Long = {
    val tasks = Option(new java.io.File("/proc/self/task").listFiles).getOrElse(Array.empty)
    tasks.iterator.map { t =>
      try {
        val stat = new String(Files.readAllBytes(t.toPath.resolve("stat")))
        val comm = stat.substring(stat.indexOf('(') + 1, stat.lastIndexOf(')'))
        val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
        if (comm.contains("CompilerThre")) (f(11).toLong + f(12).toLong) * 10000000L else 0L
      } catch { case _: java.io.IOException => 0L } // thread ended meanwhile
    }.sum
  }

  /** N concurrent fixed-work spins against one: about N on an idle N-core
    * host, less under a quota or a noisy neighbour. */
  def effectiveCores(n: Int): Double = {
    def spin(): Double = {
      var x = 0.0; var i = 0
      while (i < 5000000) { x += math.sqrt(i.toDouble); i += 1 }
      x
    }
    spin() // JIT
    val t1 = System.nanoTime(); spin(); val one = System.nanoTime() - t1
    val threads = (1 to n).map(_ => new Thread(() => { spin(); () }))
    val tn = System.nanoTime()
    threads.foreach(_.start()); threads.foreach(_.join())
    val all = System.nanoTime() - tn
    n * one.toDouble / all
  }
}

trait Workload {
  def setup(spark: SparkSession, round: Int): Unit
  def run(spark: SparkSession, raw: scala.collection.mutable.Map[String, Any]): Unit
}

final case class Cfg(opts: Map[String, String]) {
  def apply(k: String): String =
    opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
  def int(k: String): Int = apply(k).toInt
  def long(k: String): Long = apply(k).toLong
  def cores: Int = int("cores")
  def traced: Boolean = apply("trace") == "1"
  def work: Path = Paths.get(apply("work"))
  def input: Path = Paths.get(apply("input"))
}

/** Minimal JSON rendering for the raw result file. */
object Json {
  /** Already-rendered JSON, embedded as is. */
  final case class Raw(json: String)

  def render(v: Any): String = v match {
    case Raw(json) => json
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case xs: Array[_] => render(xs.toSeq)
    case other => quote(other.toString)
  }
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}
