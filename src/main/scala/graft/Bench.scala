package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import SparkEntry.registry

/** Benchmark main: times the headline queries (the registry's timed
  * entries, [[SparkEntry.registry]]) at SPARK_GRAFT_SF_DIR and prints one
  * JSON line (driver contract). Each query is fully materialized
  * via the noop sink ([[Bench.materialize]]) after a shared session
  * warm-up. The same line is also written to BENCH_LAST.json so the
  * result survives log truncation.
  *
  * Failed queries are reported as null (never as their short elapsed time)
  * and excluded from the total, with an "errors" list naming them. */
object Bench {
  /** Materialize a bench query via the noop sink, NOT `count()`: count()
    * lets Catalyst prune every un-referenced projection, so a map-only
    * query (doc_token_count, emb_quantize, …) collapses to a parquet
    * row-count and the "measurement" is footer reads. Caught by the r8
    * 100× rehearsal (doc_token_count ratio 1.0 at 100× data); the noop
    * write evaluates every output column and discards rows executor-side
    * — no driver collect, no disk. */
  private[graft] def materialize(df: DataFrame): Unit = {
    served = df
    df.write.mode("overwrite").format("noop").save()
  }
  private var served: DataFrame = _

  /** Between-rep hygiene, so rep N+1 never pays rep N's blocks: drop the
    * CacheManager's entries and free the pins the last materialized result
    * reads, as a deployment frees a served result when it drops it. Every
    * other intermediate was released by its operator's own scope
    * ([[Pins]]). Runs OUTSIDE the timed region. */
  private[graft] def releaseServed(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    Pins.release(served)
    served = null
  }

  /** Aggregate CPU throughput probe (r13, VERDICT r12 #3a): N concurrent
    * fixed-work spins vs one. On a truly idle `n`-core host the ratio is
    * ~n; a cgroup quota or a steal-heavy hypervisor shows immediately as
    * effective_cores ≪ n — the r12 builder session measured everything on
    * ~8 effective cores of a 32-thread machine and nothing in the artifact
    * could see it. */
  private[graft] def effectiveCores(n: Int): Double = {
    def spinOnce(): Double = {
      var acc = 0L
      val t0 = System.nanoTime()
      var i = 0L
      while (i < 60_000_000L) { acc ^= java.lang.Long.rotateLeft(acc + i, 13) * 0x9E3779B97F4A7C15L; i += 1 }
      if (acc == 42L) println("")
      (System.nanoTime() - t0) / 1e6
    }
    val s1 = Seq(spinOnce(), spinOnce()).min
    val threads = (1 to n).map(_ => new Thread(() => { spinOnce(); () }))
    val t0 = System.nanoTime()
    threads.foreach(_.start()); threads.foreach(_.join())
    val wall = (System.nanoTime() - t0) / 1e6
    math.min(n.toDouble, n * s1 / wall)
  }

  /** cgroup v2/v1 CPU quota in cores, if one is set. */
  private[graft] def cpuQuota(): Option[Double] = {
    def read(p: String): Option[String] =
      try Some(Files.readString(Paths.get(p)).trim) catch { case _: Throwable => None }
    read("/sys/fs/cgroup/cpu.max").flatMap { s =>
      s.split("\\s+") match {
        case Array("max", _) => None
        case Array(q, p)     => Some(q.toDouble / p.toDouble)
        case _               => None
      }
    }.orElse(for {
      q <- read("/sys/fs/cgroup/cpu/cpu.cfs_quota_us").map(_.toDouble) if q > 0
      p <- read("/sys/fs/cgroup/cpu/cpu.cfs_period_us").map(_.toDouble)
    } yield q / p)
  }

  /** Fixed single-thread spin, calibrating host speed: the same work takes
    * the same time on a quiet host, so a drift between the start and end
    * markers flags a CPU-steal window DURING the bench — lets a reader
    * separate host noise from real regressions without re-running.
    *
    * Min-of-3: a single spin confounds steal with one-off scheduler blips
    * and GC pauses; a genuine steal window inflates all three consecutive
    * spins, so the min preserves the signal while dropping the spikes. */
  private[graft] def calibMs(): Double = {
    def spin(): Double = {
      var acc = 0L
      val t0 = System.nanoTime()
      var i = 0L
      while (i < 20_000_000L) { acc ^= java.lang.Long.rotateLeft(acc + i, 13) * 0x9E3779B97F4A7C15L; i += 1 }
      if (acc == 42L) println("") // keep the loop observable
      (System.nanoTime() - t0) / 1e6
    }
    Seq(spin(), spin(), spin()).min
  }

  /** One timed pass: batch min-of-reps, bracketed by calib spins. `quiet`
    * means neither bracket saw CPU steal — only a quiet attempt is
    * recorded as non-degraded. */
  private case class Attempt(results: Seq[(String, Option[Double])],
                             wallTimed: Double,
                             calibStart: Double, calibEnd: Double,
                             decadeCalib: Seq[Double] = Nil) {
    def quiet(gateMs: Double): Boolean = calibStart <= gateMs && calibEnd <= gateMs
    def total: Double = results.flatMap(_._2).sum
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.defaultCores
    // GraftSession: AQE + shuffle partitions = cores + graft extensions
    // (AutoBarrierExplode etc.) — benches the session a user would run.
    val spark = GraftSession.local(cpus, Map("spark.driver.maxResultSize" -> "4g"))

    // JVM + whole-stage-codegen warm-up per query shape on the smallest SF
    // (not timed): measures steady-state throughput, not Janino compilation.
    // SPARK_GRAFT_ONLY=a,b,c restricts the run (targeted re-measurement) —
    // resolved against the registry, NOT intersected with the headline, so
    // entries deliberately dropped from the default list (the tokenizer-
    // training / image-decode paths) stay re-measurable on demand; the
    // full headline stays the default so round benches are comparable
    val picked = sys.env.get("SPARK_GRAFT_ONLY")
      .map { raw =>
        val asked = raw.split(",").map(_.trim).toSeq.distinct
        val (ok, unknown) = asked.partition(n => registry.benchFn(n).isDefined)
        // a typo must not silently shrink a targeted run (ADVICE r10)
        unknown.foreach(n => System.err.println(
          s"[bench] SPARK_GRAFT_ONLY name does not resolve, skipping: $n"))
        ok
      }
      .getOrElse(registry.timed)
    picked.foreach { name =>
      registry.benchFn(name).foreach { fn =>
        try { materialize(fn(spark, "/root/testdata/sf0.001")) }
        catch { case _: Throwable => }
      }
      releaseServed(spark)
    }

    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val recording = !sys.env.contains("SPARK_GRAFT_ONLY")

    // CALIB GATE: a recorded bench must not be a steal-window artifact.
    // Fixed-work spins bracket the timed section; if either exceeds the
    // gate, the attempt is re-run after waiting for a quiet window, up to
    // an attempt cap and a total wait budget. A run that never gets a
    // quiet window is still recorded (driver contract: one JSON line) but
    // carries "degraded":true — three rounds of adjudicating host noise
    // by hand is what this field replaces.
    // Gate re-derived 2026-08-14 (SURVEY.md): a FRESH JVM's first spins
    // read ~43-48 ms, but any long-lived JVM settles at ~53-56 ms on a
    // PROVABLY idle host (pre-session, idle-session, post-query and
    // post-stop all read 53-56 while a concurrently-launched fresh JVM
    // read 43) — warm-JVM JIT/turbo state, not steal. The old 43 ms gate
    // was calibrated on fresh-JVM spins and mislabeled every real bench
    // run "degraded" (r9: three all-day false positives). 58 ms passes
    // the warm-JVM quiet band and still flags the measured steal bursts
    // (60-71+ ms spikes).
    val gateMs = sys.env.getOrElse("SPARK_GRAFT_CALIB_GATE_MS", "58").toDouble
    val attemptCap = sys.env.getOrElse("SPARK_GRAFT_BENCH_ATTEMPTS", "3").toInt
    val waitDeadline = System.nanoTime() +
      (sys.env.getOrElse("SPARK_GRAFT_CALIB_WAIT_SEC", "480").toDouble * 1e9).toLong

    def awaitQuiet(): Double = {
      var c = calibMs()
      while (recording && c > gateMs && System.nanoTime() < waitDeadline) {
        System.err.println(f"[bench] calib $c%.0f ms > gate $gateMs%.0f ms — waiting for a quiet window")
        Thread.sleep(15000)
        c = calibMs()
      }
      c
    }

    // timed reps per query, min taken: steady-state throughput robust to
    // host-noise spikes (cache cleared between reps — no result reuse).
    def runAttempt(): Attempt = {
      val calibStart = awaitQuiet()
      val wallStart = System.nanoTime()
      // per-DECADE calib brackets (r13, VERDICT r12 #3b): the whole-attempt
      // brackets can't see a mid-run steal burst (or exonerate a query from
      // one) across a ~240-entry pass; one fixed-work spin every 10 queries
      // bounds any burst to a decade at ~0.15 s × 25 of overhead
      val decadeCalib = scala.collection.mutable.ArrayBuffer[Double]()
      val results: Seq[(String, Option[Double])] = picked.zipWithIndex.flatMap { case (name, qi) =>
        if (qi % 10 == 0 && qi > 0) decadeCalib += calibMs()
        registry.benchFn(name).map { fn =>
          val times = (1 to reps).map { _ =>
            releaseServed(spark)
            val t0 = System.nanoTime()
            try { materialize(fn(spark, sfDir)); Some((System.nanoTime() - t0) / 1e9) }
            catch { case e: Throwable =>
              System.err.println(s"[bench] $name failed: ${e.getMessage}")
              None
            }
          }
          // a query only counts as timed if every rep succeeded
          name -> (if (times.forall(_.isDefined)) Some(times.flatten.min) else None)
        }
      }
      val wallTimed = (System.nanoTime() - wallStart) / 1e9
      Attempt(results, wallTimed, calibStart, calibMs(),
        decadeCalib.toSeq)
    }

    var attempts = List(runAttempt())
    while (recording && !attempts.head.quiet(gateMs) &&
           attempts.length < attemptCap && System.nanoTime() < waitDeadline) {
      System.err.println(f"[bench] attempt ${attempts.length} calib ${attempts.head.calibStart}%.0f/${attempts.head.calibEnd}%.0f ms — steal during run, re-running")
      attempts ::= runAttempt()
    }
    // prefer the quiet attempt; among equals the fastest (min-of-mins
    // would splice incomparable windows — keep one coherent pass)
    val best = attempts.minBy(a => (!a.quiet(gateMs), a.total))
    val degraded = !best.quiet(gateMs)

    // standing 10×-distinct scale section (VERDICT r6 #2): regenerate the
    // 10× corpus (distinct mode — the realistic scale-up; ~30 s) and run
    // every headline query against it, recording t(10×)/t(1×) so the
    // scaling exponents are a per-round regression surface, not a one-off
    // rehearsal. Min-of-reps (default 2): r7's single-shot protocol put
    // steal-window artifacts of 21-134× on eight queries that a min-of-2
    // re-measurement (r8) showed are 2.6-8.7× — one noisy sample per query
    // is not a usable regression surface.
    val scale10 =
      if (!recording || sys.env.get("SPARK_GRAFT_SCALE10").contains("0")) "null"
      else try {
        val copies = sys.env.getOrElse("SPARK_GRAFT_SCALE10_COPIES", "10").toInt
        // Default 1 rep per query as of r10 (VERDICT r9 #1c): the quiet
        // brackets have been stable ≥2 rounds for every family, and the
        // 2-rep protocol was ~950 s of the wall that killed the r9 driver
        // bench at its 60-min cap. Each entry's treatment (one rep, watch,
        // skip, first-touch build) is its registry row's `scale10`.
        val scaleRepsEnv = sys.env.get("SPARK_GRAFT_SCALE10_REPS")
        val scaleReps = scaleRepsEnv.map(_.toInt).getOrElse(1)
        def scale10Of(name: String): Scale10 = registry(name).bench.scale10
        val dst = s"/tmp/graft_bench_scale${copies}_distinct"
        val genT0 = System.nanoTime()
        ScaleUp.generate(spark, sfDir, dst, copies, "distinct")
        val genSec = (System.nanoTime() - genT0) / 1e9
        val cal0 = calibMs()
        val base = best.results.collect { case (k, Some(v)) => k -> v }.toMap
        // PER-QUERY calib brackets (r8 finding): the ~20-minute scale10
        // section can cross a minutes-long steal burst that min-of-2 inside
        // the burst cannot escape — r7/r8 recorded 21-134× artifacts that
        // quiet-window re-measures put at 2.6-8.7×. Every rep is bracketed
        // by the fixed-work spin (the trailing spin doubles as the next
        // rep's leading one); a rep is QUIET iff both brackets sit under
        // the gate. Min is taken over quiet reps when any exist; a query
        // with successful reps but no quiet one keeps min-of-all and is
        // listed in "busy" — adjudication is mechanical, never a re-run.
        var spin = cal0
        var done = 0
        // LinkedHashSet: a query can hit the busy flag twice (no quiet rep
        // THEN a cap/deadline readjudication skip) — the artifact must list
        // it once
        val busyQs = scala.collection.mutable.LinkedHashSet[String]()
        val timed = picked.filterNot(scale10Of(_) == Scale10.Skip).flatMap { name =>
          registry.benchFn(name).map { fn =>
            if (scale10Of(name) == Scale10.FirstTouch) {
              try materialize(fn(spark, dst))
              catch { case _: Throwable => () } // the timed rep reports it
              // a build can run minutes — refresh the bracket so the first
              // timed rep's `pre` spin isn't stale (a steal burst inside
              // the build window must not pass as a quiet bracket)
              spin = calibMs()
            }
            // watch queries default to min-of-2, but an EXPLICIT rep-count
            // request wins for them too (ADVICE r10: a silent override
            // makes the recorded rep count unexplainable from the env)
            val wantReps =
              if (scale10Of(name) == Scale10.Watch && scaleRepsEnv.isEmpty)
                math.max(scaleReps, 2)
              else scaleReps
            var quietTimes = List.empty[Double]
            var allTimes = List.empty[Option[Double]]
            // burst-escape retries only make sense against a BURST — once
            // ~10 consecutive queries never see a quiet bracket the whole
            // host is degraded (r9: an all-day calib 54-60 put every query
            // in `busy` and the retries doubled the section for nothing)
            val hostDegraded = done >= 10 && busyQs.size == done
            val maxTries = if (hostDegraded) wantReps else wantReps + 2
            while (allTimes.length < maxTries && quietTimes.length < wantReps) {
              val pre = spin
              releaseServed(spark)
              val t0 = System.nanoTime()
              val t = try { materialize(fn(spark, dst)); Some((System.nanoTime() - t0) / 1e9) }
                catch { case e: Throwable =>
                  System.err.println(s"[bench] scale10 $name failed: ${e.getMessage}")
                  None
                }
              spin = calibMs()
              allTimes ::= t
              if (pre <= gateMs && spin <= gateMs) t.foreach(v => quietTimes ::= v)
            }
            // error semantics unchanged: any failed rep marks the query
            done += 1
            name -> (if (allTimes.exists(_.isEmpty)) None
                     else if (quietTimes.nonEmpty) Some(quietTimes.min)
                     else { busyQs += name; Some(allTimes.flatten.min) })
          }
        }
        // SELF-ADJUDICATION (VERDICT r10 #2): with scale10 at 1 rep, one
        // steal window fabricates a multi-query "regression" the artifact
        // cannot distinguish from a real one (r10 driver run: doc_kn_ll
        // 68× vs the same code's 6.0× quiet record, ev_bloom_join 55.9×
        // UNFLAGGED because the burst landed between calib brackets). So
        // the artifact now adjudicates itself: any query whose ratio
        // exceeds 2.5× its last committed quiet ratio (BENCH_FULL.json;
        // 10× absolute when no prior exists) is re-run ONCE after waiting
        // for a quiet calib window, and BOTH attempts are recorded in
        // "readjudicated". A quiet retry replaces the reading and clears
        // the busy flag; a busy retry keeps the min and stays flagged.
        val priorQuiet: Map[String, Double] = try {
          val txt = Files.readString(Paths.get("BENCH_FULL.json"))
          val s10 = txt.drop(math.max(0, txt.indexOf("\"scale10\"")))
          val busyPrior = "\"busy\":\\[([^\\]]*)\\]".r.findFirstMatchIn(s10)
            .map(_.group(1).split(",").map(
              _.trim.stripPrefix("\"").stripSuffix("\"")).filter(_.nonEmpty).toSet)
            .getOrElse(Set.empty[String])
          val ri = s10.indexOf("\"ratios\"")
          if (ri < 0) Map.empty[String, Double]
          else {
            val obj = s10.drop(ri).take(s10.drop(ri).indexOf('}') + 1)
            "\"([A-Za-z0-9_]+)\":([0-9.]+)".r.findAllMatchIn(obj)
              .map(m => m.group(1) -> m.group(2).toDouble)
              .filterNot { case (k, _) => busyPrior(k) || k == "ratios" }
              .toMap
          }
        } catch { case _: Throwable => Map.empty }
        val adjDeadline = System.nanoTime() +
          (sys.env.getOrElse("SPARK_GRAFT_SCALE10_ADJ_SEC", "420").toDouble * 1e9).toLong
        val timedMap = scala.collection.mutable.LinkedHashMap(timed: _*)
        val readj = scala.collection.mutable.ArrayBuffer[String]()
        val outliers = timed.collect {
          case (k, Some(v)) if base.contains(k) &&
            priorQuiet.get(k).map(p => v / base(k) > 2.5 * p)
              .getOrElse(v / base(k) > 10.0) => k
        }
        // retry cap: a burst wide enough to inflate >12 queries is a
        // degraded HOST, not 12 independent regressions — but the skipped
        // names must be VISIBLE in the artifact (r11 self-review: a
        // silently un-retried outlier is exactly the unflagged-busy
        // failure mode this block exists to kill), so they join `busy`.
        // The retry budget goes to the LARGEST ratios first (r11 verdict:
        // run-order splitAt left the 24×/20× ghosts un-retried while the
        // budget cleared 10× ones — the artifact's `worst` block misled
        // exactly where it mattered most).
        val (readjNow, readjSkipped) =
          outliers.sortBy(k => -(timedMap(k).get / base(k))).splitAt(12)
        readjSkipped.foreach { name =>
          System.err.println(s"[bench] scale10 readjudication cap: $name left un-retried")
          busyQs += name
        }
        readjNow.foreach { name =>
          // deadline-skips must stay as visible as cap-skips: an outlier
          // left un-retried because the 420 s adjudication window closed
          // is the same silently-unflagged failure mode as the cap path
          if (System.nanoTime() >= adjDeadline) {
            System.err.println(s"[bench] scale10 readjudication deadline: $name left un-retried")
            busyQs += name
          } else registry.benchFn(name).foreach { fn =>
            var pre = calibMs()
            while (pre > gateMs && System.nanoTime() < adjDeadline) {
              System.err.println(f"[bench] scale10 readjudication of $name waiting for quiet window (calib $pre%.0f ms)")
              Thread.sleep(10000); pre = calibMs()
            }
            releaseServed(spark)
            val t0 = System.nanoTime()
            val retry = try { materialize(fn(spark, dst)); Some((System.nanoTime() - t0) / 1e9) }
              catch { case e: Throwable =>
                System.err.println(s"[bench] scale10 retry $name failed: ${e.getMessage}")
                None
              }
            val post = calibMs()
            retry.foreach { v =>
              val first = timedMap(name).get
              val quietRetry = pre <= gateMs && post <= gateMs
              readj += f""""$name":{"first":$first%.3f,"retry":$v%.3f,"quiet_retry":$quietRetry}"""
              // steal only INFLATES wall time, so min is always safe
              timedMap(name) = Some(math.min(first, v))
              if (quietRetry) busyQs -= name
            }
          }
        }
        val cal1 = calibMs()
        val adjusted = timedMap.toSeq
        val ratios = adjusted.collect {
          case (k, Some(v)) if base.contains(k) => k -> v / base(k) }
        val medR = if (ratios.isEmpty) Double.NaN
          else ratios.map(_._2).sorted.apply(ratios.length / 2)
        val rJson = ratios.map { case (k, v) => "\"" + k + f"""\":$v%.2f""" }
          .mkString("{", ",", "}")
        val errs = adjusted.collect { case (k, None) => "\"" + k + "\"" }
          .mkString("[", ",", "]")
        val sum10 = adjusted.flatMap(_._2).sum
        val busyJson = busyQs.map("\"" + _ + "\"").mkString("[", ",", "]")
        val readjJson = readj.mkString("{", ",", "}")
        f"""{"copies":$copies,"mode":"distinct","gen_sec":$genSec%.1f,"sum_sec":$sum10%.3f,"median_ratio":$medR%.2f,"calib_start_ms":$cal0%.0f,"calib_end_ms":$cal1%.0f,"busy":$busyJson,"readjudicated":$readjJson,"ratios":$rJson,"errors":$errs}"""
      } catch { case e: Throwable =>
        System.err.println(s"[bench] scale10 failed: ${e.getMessage}")
        "null"
      }

    val qs = best.results.map {
      case (k, Some(v)) => "\"" + k + f"""\":$v%.3f"""
      case (k, None)    => "\"" + k + "\":null"
    }.mkString("{", ",", "}")
    val errors = best.results.collect { case (k, None) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = best.total
    // host block: reps, total wall of the timed section vs sum of min times
    // (min-of-reps means wall >> reps·total under steal), the fixed-work
    // calibration spins bracketing the recorded attempt, and the gate
    // verdict — "degraded":false is the claim that no steal window touched
    // this attempt, so round-over-round comparisons may trust it.
    // starvation evidence (r13, VERDICT r12 #3): how many cores this
    // session can actually burn, the cgroup quota if any, and the decade
    // brackets so a mid-run steal burst is localized to ±10 queries
    val effCores = effectiveCores(cpus)
    val quotaJson = cpuQuota().map(q => f"$q%.1f").getOrElse("null")
    val decadesJson = best.decadeCalib.map(v => f"$v%.0f").mkString("[", ",", "]")
    val decadesBusy = best.decadeCalib.count(_ > gateMs)
    val host =
      f"""{"reps":$reps,"wall_timed_sec":${best.wallTimed}%.1f,"sum_min_sec":$total%.3f,"calib_start_ms":${best.calibStart}%.0f,"calib_end_ms":${best.calibEnd}%.0f,"calib_gate_ms":$gateMs%.0f,"attempts":${attempts.length},"degraded":$degraded,"cpus_requested":$cpus,"available_processors":${Runtime.getRuntime.availableProcessors()},"cpu_quota_cores":$quotaJson,"effective_cores":$effCores%.1f,"decade_calib_ms":$decadesJson,"decades_busy":$decadesBusy}"""
    val fullLine =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"errors":$errors,"host":$host,"scale10":$scale10,"sf":"$sfDir"}"""
    if (recording) // don't clobber full-run record
      try {
        Files.writeString(Paths.get("BENCH_LAST.json"), fullLine + "\n")
        Files.writeString(Paths.get("BENCH_FULL.json"), fullLine + "\n") // git-tracked twin
      } catch { case e: Throwable => System.err.println(s"[bench] file write failed: $e") }

    // STDOUT LINE: the driver records only the last 2000 chars of stdout
    // (BENCH_r01..r07 all have tail_len=2000, parsed:null — the full line
    // plus sbt's trailing "[success] …" overflowed the buffer every round
    // and was truncated mid-JSON). Print a COMPACT line, last and alone,
    // that always fits: core query subset + summaries + a pointer to the
    // tracked full record. Budget ≤1700 chars, enforced by dropping query
    // entries if ever exceeded.
    val resMap = best.results.toMap
    val coreNames = registry.slotted(_.core)
    def compactLine(nCore: Int): String = {
      // a targeted run's picked set is small by construction — emit it all
      // (the core subset exists to fit the driver's 2000-char stdout tail)
      val names = if (recording) coreNames.take(nCore) else picked
      val coreQs = names.flatMap(k => resMap.get(k).map(k -> _)).map {
        case (k, Some(v)) => "\"" + k + f"""\":$v%.3f"""
        case (k, None)    => "\"" + k + "\":null"
      }.mkString("{", ",", "}")
      val scaleCompact = scale10 match {
        case "null" => "null"
        case s =>
          def field(n: String): String =
            ("\"" + n + "\":(-?[0-9.]+)").r.findFirstMatchIn(s).map(_.group(1)).getOrElse("null")
          // worst offenders so the regression surface survives in the tail
          val ratios = ("\"([A-Za-z0-9_]+)\":([0-9.]+)").r.findAllMatchIn(
            s.drop(s.indexOf("\"ratios\""))).map(m => m.group(1) -> m.group(2).toDouble).toSeq
          val worst = ratios.sortBy(-_._2).take(5)
            .map { case (k, v) => "\"" + k + f"""\":$v%.1f""" }.mkString("{", ",", "}")
          val nBusy = ("\"busy\":\\[([^\\]]*)\\]").r.findFirstMatchIn(s)
            .map(m => if (m.group(1).trim.isEmpty) 0 else m.group(1).count(_ == '"') / 2)
            .getOrElse(0)
          s"""{"median_ratio":${field("median_ratio")},"n_busy":$nBusy,"worst":$worst}"""
      }
      val hostCompact =
        f"""{"calib_start_ms":${best.calibStart}%.0f,"calib_end_ms":${best.calibEnd}%.0f,"degraded":$degraded,"effective_cores":$effCores%.1f,"decades_busy":$decadesBusy}"""
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","n_queries":${best.results.length},"queries":$coreQs,"errors":$errors,"host":$hostCompact,"scale10":$scaleCompact,"full":"BENCH_FULL.json","sf":"$sfDir"}"""
    }
    val line = (coreNames.length to 5 by -5).map(compactLine)
      .find(_.length <= 1700).getOrElse(compactLine(5))
    println(line)
    spark.stop()
  }
}

/** N×-scale rehearsal (default 100×, ≈ sf10 from sf0.1) over a picked
  * scale-path query subset — the standing scale10 section answers "does
  * the exponent hold at 10×?"; this runner asks the same question one
  * decade further out, where quadratic candidate generation, driver-side
  * state, or a mis-partitioned shuffle that 10× forgives would surface.
  * One family representative each for scan-agg, shuffle join, windowed
  * analytics, skew-salted agg, as-of join, exact + MinHash dedup, the
  * measured LSH auto-gate, prefix-sum packing, global vocab ordering,
  * and IVF index build+serve.
  *
  * Protocol matches the scale10 section: distinct-mode corpus (content
  * scales, not duplication), min-of-reps per query, calib spins recorded
  * so a stolen host window is visible in the artifact. Emits one JSON
  * line: per-query base/scaled seconds and the ratio vs `copies`. */
object BenchScale {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val copies = sys.env.getOrElse("SPARK_GRAFT_SCALE_COPIES", "100").toInt
    val reps = sys.env.getOrElse("SPARK_GRAFT_SCALE_REPS", "2").toInt
    val names = sys.env.get("SPARK_GRAFT_SCALE_QUERIES")
      .map(_.split(",").map(_.trim).toSeq)
      .getOrElse(registry.slotted(_.scaleUp))
    val spark = GraftSession.local(extraConf = Map("spark.driver.maxResultSize" -> "4g"))
    val dst = s"/tmp/graft_bench_scale${copies}_distinct"
    val genT0 = System.nanoTime()
    if (!sys.env.get("SPARK_GRAFT_SCALE_REUSE").contains("1") ||
        !java.nio.file.Files.isDirectory(java.nio.file.Paths.get(dst)))
      ScaleUp.generate(spark, sfDir, dst, copies, "distinct")
    val genSec = (System.nanoTime() - genT0) / 1e9
    def timed(dir: String, name: String): Option[Double] = {
      val fn = registry.benchFn(name).getOrElse(
        sys.error(s"unknown bench query: $name"))
      val times = (1 to reps).map { _ =>
        Bench.releaseServed(spark)
        val t0 = System.nanoTime()
        try { Bench.materialize(fn(spark, dir)); Some((System.nanoTime() - t0) / 1e9) }
        catch { case e: Throwable =>
          System.err.println(s"[bench-scale] $name@$dir failed: ${e.getMessage}")
          None
        }
      }
      if (times.forall(_.isDefined)) Some(times.flatten.min) else None
    }
    // warm once per shape (codegen + catalog), then base and scaled passes
    names.foreach { n =>
      registry.benchFn(n).foreach(fn =>
        try Bench.materialize(fn(spark, "/root/testdata/sf0.001"))
        catch { case _: Throwable => () })
    }
    val cal0 = Bench.calibMs()
    val rows = names.map { n => (n, timed(sfDir, n), timed(dst, n)) }
    val cal1 = Bench.calibMs()
    val parts = rows.map {
      case (n, Some(b), Some(s)) =>
        f""""$n":{"base_s":$b%.3f,"scaled_s":$s%.3f,"ratio":${s / b}%.1f}"""
      case (n, b, s) =>
        s""""$n":{"base_s":${b.fold("null")(v => f"$v%.3f")},"scaled_s":${s.fold("null")(v => f"$v%.3f")},"ratio":null}"""
    }
    val ratios = rows.collect { case (_, Some(b), Some(s)) => s / b }.sorted
    val medR = if (ratios.isEmpty) Double.NaN else ratios(ratios.length / 2)
    println(f"""{"metric":"scale$copies","copies":$copies,"reps":$reps,"gen_sec":$genSec%.1f,"median_ratio":$medR%.1f,"calib_start_ms":$cal0%.0f,"calib_end_ms":$cal1%.0f,"queries":${parts.mkString("{", ",", "}")},"sf":"$sfDir"}""")
    spark.stop()
  }
}
