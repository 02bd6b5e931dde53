package graft.perfbench

import scala.collection.immutable.ListMap

import org.apache.spark.sql.SparkSession

import graft.operators.Materialize

/** The benchmark run: set-up three times (fresh session, fresh inputs,
  * every op constructed), the workload's untimed warm-up passes, then
  * whole passes over the workload's ops, at least two and until
  * `--seconds` have passed, one client in a closed loop. `setup_s` is the
  * median set-up plus the warm-up passes. Prints the result line last on
  * stdout and writes every op record, set-up, diagnostic and span to the
  * `--artifact` file.
  *
  * {{{
  * Main --workload W --seed N --seconds S --trace 0|1 --data DIR
  *      --expected FILE --run-dir DIR --artifact FILE
  * }}}
  *
  * `--run-dir` must be the JVM's `java.io.tmpdir` parent and hold its
  * `spark.local.dir`: every byte of on-disk state (Materialize's lake,
  * input slices, checkpoints, landed ingest output) lives under it.
  */
object Main {
  private val Setups = 3

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      data: String, expected: String, runDir: String, artifact: String)

  def parse(argv: Array[String]): Args = {
    val kv = argv.toSeq.grouped(2).map {
      case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def req(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(req("workload"), req("seed").toLong, req("seconds").toDouble,
      req("trace") match {
        case "0" => false
        case "1" => true
        case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, not $t")
      },
      req("data"), req("expected"), req("run-dir"), req("artifact"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val w = Workloads.byName(a.workload)
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir")).getCanonicalPath
    require(tmp.startsWith(new java.io.File(a.runDir).getCanonicalPath),
      s"java.io.tmpdir $tmp is outside the run dir ${a.runDir}")
    val expected = Expected.load(a.expected, w.name)
    val rot = Math.floorMod(a.seed, w.ops.size.toLong).toInt
    val order = w.ops.drop(rot) ++ w.ops.take(rot)
    val cores = Runtime.getRuntime.availableProcessors
    val recs = Seq.newBuilder[OpRec]

    val cpu = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    // An op's record covers only its timed interval; an op that failed
    // before reaching it is recorded over its whole execution.
    def execute(spark: SparkSession, pass: Int, op: String, in: String): OpRec = {
      val scratch = s"${a.runDir}/scratch/$pass-$op"
      val timer = new Timer
      val start = System.currentTimeMillis()
      val cpu0 = cpu.getProcessCpuTime
      def rec(res: Option[OpResult], error: Option[String]) =
        if (timer.end > 0) OpRec(pass, op, timer.start, timer.end, timer.cpuS, res, error)
        else OpRec(pass, op, start, System.currentTimeMillis(),
          (cpu.getProcessCpuTime - cpu0) / 1e9, res, error)
      val r = try {
        val res = w.run(spark, op, in, scratch, timer)
        val mismatch = expected.get(op) match {
          case Some(fp) if fp == res.fingerprint => None
          case Some(fp) => Some(s"$op: output fingerprint ${res.fingerprint} != recorded $fp")
          case None => Some(s"$op: no recorded fingerprint")
        }
        rec(Some(res), mismatch)
      } catch {
        case e: Throwable => rec(None, Some(s"${e.getClass.getName}: ${e.getMessage}"))
      }
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(scratch))
      System.err.println(s"[perfbench] pass $pass $op ${r.end - r.start} ms" +
        r.error.fold("")(e => s" FAILED: $e"))
      recs += r
      r
    }

    // ---- set-up: three times over fresh inputs, then the warm-up passes ----
    require(Materialize.reusedKeys.isEmpty,
      s"Materialize reused stages before set-up: ${Materialize.reusedKeys.mkString(", ")}")
    var spark: SparkSession = null
    val setups = (1 to Setups).map { k =>
      val built0 = Materialize.buildSeconds.keySet
      val t0 = System.nanoTime()
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      }
      spark = graft.GraftSession.local(cores, "perfbench")
      val sessionS = (System.nanoTime() - t0) / 1e9
      w.configure(spark)
      val in = s"${a.runDir}/in_$k"
      w.prepare(spark, a.data, in)
      order.foreach(op => w.prime(spark, op, in))
      val wall = (System.nanoTime() - t0) / 1e9
      val built = Materialize.buildSeconds.filter { case (key, _) => !built0(key) }
      require(Materialize.reusedKeys.isEmpty,
        s"set-up $k reused stages from another process: ${Materialize.reusedKeys.mkString(", ")}")
      ListMap("setup_s" -> wall, "session_s" -> sessionS, "materialize_built" -> built.size,
        "materialize_build_s" -> built.values.sum,
        "materialize_mb" -> Materialize.stageBytes.collect {
          case (d, b) if built.keySet.exists(d.startsWith) => b
        }.sum / 1e6)
    }
    val in = s"${a.runDir}/in_$Setups"
    val warmupS = {
      val t0 = System.nanoTime()
      (1 to w.warmups).foreach(_ => order.foreach(op => execute(spark, 0, op, in)))
      (System.nanoTime() - t0) / 1e9
    }

    // ---- timed section: whole passes; a traced run traces its second half ----
    val telemetry = new Telemetry
    val passes = Seq.newBuilder[ListMap[String, Any]]
    var traced = Seq.empty[Int]
    val tStart = System.nanoTime()
    def elapsed = (System.nanoTime() - tStart) / 1e9
    var pass = 0
    def runPass(): Unit = {
      pass += 1
      val (w0, c0, s0) = (System.nanoTime(), cpu.getProcessCpuTime, Host.stealS())
      order.foreach(op => execute(spark, pass, op, in))
      passes += ListMap("pass" -> pass, "wall_s" -> (System.nanoTime() - w0) / 1e9,
        "cpu_s" -> (cpu.getProcessCpuTime - c0) / 1e9, "steal_s" -> (Host.stealS() - s0),
        "loadavg" -> Host.loadavg(), "traced" -> traced.contains(pass))
    }
    if (a.trace) {
      while (pass == 0 || elapsed < a.seconds / 2) runPass()
      telemetry.attach(spark)
      val untraced = pass
      while (pass == untraced || elapsed < a.seconds) { traced :+= pass + 1; runPass() }
    } else {
      while (pass < 2 || elapsed < a.seconds) runPass()
    }
    val timedS = elapsed

    val heapMb = (1 to 3).map { _ =>
      System.gc(); Thread.sleep(200)
      java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
    }.min
    // the ops' invariant checks, against a batch reference computed once
    val checked = {
      val ref = if (recs.result().exists(_.result.exists(_.check.nonEmpty)))
        Some(w.reference(spark, in)) else None
      recs.result().map { r =>
        val problems = r.result.flatMap(_.check).toSeq.flatMap(c => c(ref.get))
        if (problems.isEmpty) r
        else r.copy(error = Some((r.error.toSeq ++ problems).mkString("; ")))
      }
    }
    // stopping the context drains the listener bus, so every event of the
    // timed section has reached the telemetry before it is read
    spark.stop()

    // ---- results ----
    val all = checked
    def med(xs: Seq[Double]) = Telemetry.median(xs)
    val timed = all.filter(_.pass > 0)
    val passRows = passes.result()
    val failures = all.filter(_.error.nonEmpty)
    def passStat(k: String, sel: ListMap[String, Any] => Boolean) =
      passRows.filter(sel).map(_(k).asInstanceOf[Double])
    // Each op's fastest timed execution: a pass with hypervisor steal or
    // a GC pause in one op does not move the figures.
    val byOp = order.map(op => timed.filter(_.op == op))
    def fastest(f: OpRec => Double) = byOp.map(_.map(f).min)
    val passS = fastest(r => (r.end - r.start) / 1e3).sum
    // latency of every timed query execution and every timed micro-batch
    val latencies = timed.flatMap(r => r.result.map(_.batchMs).filter(_.nonEmpty)
      .getOrElse(Seq((r.end - r.start).toDouble)))
    val rowsPerPass = byOp.map(_.flatMap(_.result).headOption.fold(0L)(_.rows)).sum
    val tracedOps = timed.filter(r => traced.contains(r.pass))
    val spans = if (a.trace) Telemetry.spans(telemetry, tracedOps) else Nil
    val metrics: Map[String, Double] =
      if (!a.trace) Map(
        "setup_s" -> (med(setups.map(_("setup_s").asInstanceOf[Double])) + warmupS),
        "pass_s" -> passS,
        "pass_cpu_s" -> fastest(_.cpuS).sum,
        "latency_p50_ms" -> med(latencies),
        "rows_per_s" -> rowsPerPass / passS,
        "live_heap_mb" -> heapMb)
      else {
        val self = Spans.selfByLayer(spans)
        def setupMed(k: String) = med(setups.map(s => s(k) match {
          case i: Int => i.toDouble
          case d: Double => d
        }))
        val overhead = med(passStat("wall_s", _("traced") == true)) -
          med(passStat("wall_s", _("traced") == false))
        Telemetry.layerMetrics(telemetry, tracedOps, traced.size) ++ Map(
          "session.start_s" -> setupMed("session_s"),
          "materialize.built" -> setupMed("materialize_built"),
          "materialize.reused" -> Materialize.reusedKeys.size.toDouble,
          "materialize.build_s" -> setupMed("materialize_build_s"),
          "materialize.mb" -> setupMed("materialize_mb"),
          "trace.overhead_s" -> overhead) ++
          Report.Layers.map(l => s"self.${l}_s" -> self.getOrElse(l, 0L) / 1e3 / traced.size)
      }
    val names = if (a.trace) Report.perLayer else Report.endToEnd

    val artifact = ListMap(
      "workload" -> w.name, "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> a.trace,
      "cores" -> cores, "order" -> order, "timed_s" -> timedS, "setups" -> setups,
      "warmup_s" -> warmupS,
      "passes" -> passRows, "metrics" -> ListMap(metrics.toSeq.sortBy(_._1): _*),
      "attempted" -> all.size, "failed" -> failures.size,
      "error_rate" -> failures.size.toDouble / math.max(1, all.size),
      "errors" -> failures.map(r => ListMap("pass" -> r.pass, "op" -> r.op, "error" -> r.error)),
      "ops" -> all.map(r => ListMap("pass" -> r.pass, "op" -> r.op,
        "ms" -> (r.end - r.start), "cpu_s" -> r.cpuS, "rows" -> r.result.map(_.rows),
        "batch_ms" -> r.result.map(_.batchMs).getOrElse(Nil),
        "fingerprint" -> r.result.map(_.fingerprint),
        "extra" -> r.result.map(_.extra).getOrElse(Map.empty))),
      "spans" -> spans.map(s => ListMap("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "layer" -> s.layer, "start" -> s.start, "end" -> s.end)))
    val out = new java.io.PrintWriter(a.artifact, "UTF-8")
    try out.println(Report.mapper.writeValueAsString(artifact)) finally out.close()
    println(Report.line(failures.isEmpty, all.size, failures.size, names, metrics))
  }
}

/** Host diagnostics: hypervisor steal and load, recorded per pass. */
object Host {
  def stealS(): Double =
    try {
      val cpu = scala.io.Source.fromFile("/proc/stat").getLines()
        .find(_.startsWith("cpu ")).get.trim.split("\\s+")
      cpu(8).toDouble / 100.0
    } catch { case _: Exception => 0.0 }

  def loadavg(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ")(0).toDouble
    catch { case _: Exception => 0.0 }
}

/** The recorded output fingerprints, one JSON object per workload. */
object Expected {
  def load(file: String, workload: String): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    val f = new java.io.File(file)
    if (!f.isFile) Map.empty
    else Option(Report.mapper.readTree(f).get(workload)).fold(Map.empty[String, String])(
      _.properties().asScala.map(e => e.getKey -> e.getValue.asText).toMap)
  }
}
