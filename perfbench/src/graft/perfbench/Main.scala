package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.Sessions
import graft.queries.Registry

/** The benchmark's JVM side: one closed-loop client that sends the
  * workload's requests one after another to graft's public entry
  * points (`AnalysisSession` routes, `Registry.byName(_).run`,
  * `Sessions.local`).
  *
  * Phases of a run:
  *  1. set-up: the session is built and the whole request script runs
  *     once, cold: table opens, memo and index builds, fixture writes,
  *     codegen and JIT warm-up all land here;
  *  2. capture (untimed): the set-up pass's registry outputs are
  *     written as parquet for the oracle check;
  *  3. measured passes: the script repeats until `--seconds` have
  *     passed, at least twice. With `--trace 1`, passes alternate
  *     untraced / traced, and traced passes record spans and per-layer
  *     metrics.
  *
  * Every output is checked after its timed window, and must equal the
  * output of the same request in the set-up pass (same inputs), so a
  * result that changes between repeats fails. Raw figures go to
  * `<out>/result.json` and spans to `<out>/spans.jsonl`; run.py turns
  * them into metrics.
  */
object Main {
  private def arg(args: Array[String], k: String): String = {
    val i = args.indexOf(s"--$k")
    require(i >= 0 && i + 1 < args.length, s"missing --$k")
    args(i + 1)
  }

  final case class Exec(name: String, route: String, latencyS: Double, error: Option[String],
                        result: Result, buildMs: Double, runMs: Double, span: Span)

  private def digest(r: Result): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(r.schema.simpleString.getBytes(UTF_8))
    r.rows.map(_.toString).sorted.foreach(s => md.update(s.getBytes(UTF_8)))
    r.values.toSeq.sorted.foreach(kv => md.update(kv.toString.getBytes(UTF_8)))
    md.digest().map("%02x".format(_)).mkString
  }

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val workload = arg(args, "workload")
    val seed = arg(args, "seed").toLong
    val seconds = arg(args, "seconds").toDouble
    val trace = arg(args, "trace") == "1"
    val out = Paths.get(arg(args, "out"))
    val in = {
      val d = arg(args, "inputs")
      val rows = new String(Files.readAllBytes(Paths.get(d, "rows.txt")), UTF_8).trim.split(" ")
      Inputs(s"$d/tables", s"$d/turbofan_train.csv", s"$d/turbofan_test.csv",
        rows(0).toLong, rows(1).toLong)
    }
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

    val spark = Sessions.local(cores, appName = "perfbench")
    val sessionReadyS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    val ph = new Phases(spark)
    val rng = new scala.util.Random(seed)
    val script: Seq[Req] = workload match {
      case "analyst_explore" =>
        val routes = Workloads.exploreRoutes(spark, () => in,
          rng.shuffle(Workloads.sensors).take(1))
        val rows = rng.shuffle(Workloads.analystRows)
          .map(Workloads.registry(_, spark, () => in, ph))
        // seeded interleave that keeps each list's own order
        val (a, b) = (mutable.Queue(routes: _*), mutable.Queue(rows: _*))
        Seq.fill(routes.size + rows.size) {
          if (b.isEmpty || (a.nonEmpty && rng.nextInt(a.size + b.size) < a.size)) a.dequeue()
          else b.dequeue()
        }
      case "automl_rul" =>
        Workloads.trainRoutes(spark, () => in)
      case "selftest_invalid" =>
        // smoke-size script with one request that must fail
        Seq(Workloads.registry("q6_filtered_revenue", spark, () => in, ph),
          Req("invalid_request", "registry", () => Workloads.registry(
            "no_such_query", spark, () => in, ph).exec()))
      case other => sys.error(s"unknown workload $other")
    }

    val tracer = new Tracer(spark, cores)
    val sc = spark.sparkContext
    val heap = ManagementFactory.getMemoryMXBean
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val jit = ManagementFactory.getCompilationMXBean
    def gcMs = gcBeans.map(_.getCollectionTime).sum.toDouble
    def codegenCount = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble
    def codegenMs = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime / 1e6

    /** Runs one request inside its timed window, then releases the
      * block-manager residue it left (outside the window). */
    def runReq(r: Req, layer: mutable.Map[String, Double]): Exec = {
      val id = tracer.newId()
      sc.setJobGroup(id.toString, r.name, interruptOnCancel = false)
      ph.buildMs = 0; ph.runMs = 0
      val t0Ms = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val (res, err) =
        try (r.exec(), None)
        catch { case NonFatal(e) => (Result(), Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(400))) }
      val lat = (System.nanoTime() - t0) / 1e9
      val span = Span(id, 0L, "request", r.name, t0Ms, System.currentTimeMillis())
      sc.clearJobGroup()
      val checked = err.orElse(try r.check(res) catch {
        case NonFatal(e) => Some(s"check threw ${e.getClass.getSimpleName}: ${e.getMessage}")
      })
      val persisted = sc.getPersistentRDDs.size
      val storage = sc.getExecutorMemoryStatus.values.map { case (mx, rem) => mx - rem }.sum
      layer("cache.residue_rdds") += persisted
      layer("cache.storage_peak_bytes") = math.max(layer("cache.storage_peak_bytes"), storage.toDouble)
      Sessions.releaseResidue(spark, blocking = true)
      println(f"[perfbench] ${r.name}%-34s $lat%8.3f s${checked.fold("")(" FAILED " + _)}")
      Exec(r.name, r.route, lat, checked, res, ph.buildMs, ph.runMs, span)
    }

    def pass(traced: Boolean): (Seq[Exec], Map[String, Double]) = {
      val layer = mutable.Map.empty[String, Double].withDefaultValue(0.0)
      val (gc0, jit0, cg0, cgMs0) = (gcMs, jit.getTotalCompilationTime.toDouble, codegenCount, codegenMs)
      if (traced) tracer.attach()
      val execs = script.map(runReq(_, layer))
      layer("jvm.gc_ms") = gcMs - gc0
      layer("jvm.jit_ms") = jit.getTotalCompilationTime - jit0
      layer("codegen.compiles") = codegenCount - cg0
      layer("codegen.compile_ms") = codegenMs - cgMs0
      execs.foreach { e =>
        layer(s"api.${e.route}_ms") += e.latencyS * 1000
        if (e.route == "registry") {
          layer("queries.build_ms") += e.buildMs
          layer("queries.run_ms") += e.runMs
        }
      }
      if (traced) {
        tracer.passMetrics(execs.map(_.span)).foreach { case (k, v) => layer(k) += v }
        tracer.detach()
      }
      (execs, layer.toMap)
    }

    // 1. set-up: one cold pass
    val t0Setup = System.nanoTime()
    val (reference, _) = pass(traced = false)
    val setupPassS = (System.nanoTime() - t0Setup) / 1e9
    val refDigest = reference.map(e => e.name -> digest(e.result)).toMap

    // 2. capture registry outputs for the oracle check (untimed)
    val outputs = out.resolve("outputs")
    val oracles = mutable.LinkedHashMap.empty[String, String]
    reference.filter(e => e.route == "registry" && e.error.isEmpty).foreach { e =>
      Registry.byName.get(e.name).flatMap(_.oracle).foreach { sql =>
        spark.createDataFrame(e.result.rows.toSeq.asJava, e.result.schema)
          .coalesce(1).write.mode("overwrite").parquet(outputs.resolve(e.name).toString)
        oracles(e.name) = sql
      }
    }
    Sessions.releaseResidue(spark, blocking = true)
    System.gc()

    // 3. measured passes: at least two, so a run reports a median (the
    // mean of two) and a traced run has an untraced pass to compare with
    val minPasses = 2
    val passes = mutable.ArrayBuffer.empty[(Boolean, Double, Double, Seq[Exec], Map[String, Double])]
    val tStart = System.nanoTime()
    def elapsed = (System.nanoTime() - tStart) / 1e9
    while (passes.size < minPasses || elapsed < seconds) {
      val traced = trace && passes.size % 2 == 1
      val t0 = System.nanoTime()
      val (execs, layer) = pass(traced)
      val makespan = (System.nanoTime() - t0) / 1e9
      System.gc()
      val heapMb = heap.getHeapMemoryUsage.getUsed / 1048576.0
      passes += ((traced, makespan, heapMb, execs, layer))
    }
    val canary = graft.tools.HostCanary.cpu()

    // spans of the traced passes, with self time
    if (trace) {
      val lines = tracer.spansWithSelfTime.map { case (s, self) =>
        Json.render(Json.obj("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind,
          "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end, "self_ms" -> self))
      }
      Files.write(out.resolve("spans.jsonl"), lines.mkString("", "\n", "\n").getBytes(UTF_8))
    }

    def execJson(e: Exec) = Json.obj(
      "name" -> e.name, "route" -> e.route, "latency_s" -> e.latencyS,
      "error" -> e.error.orNull,
      "consistent" -> (e.error.nonEmpty || refDigest.get(e.name).contains(digest(e.result))),
      "values" -> Json.obj(e.result.values.toSeq: _*))
    val json = Json.obj(
      "workload" -> workload, "seed" -> seed, "cores" -> cores,
      "session_ready_s" -> sessionReadyS,
      "setup_pass_s" -> setupPassS,
      "setup_errors" -> reference.filter(_.error.nonEmpty)
        .map(e => Json.obj("name" -> e.name, "error" -> e.error.get)),
      "oracles" -> Json.obj(oracles.toSeq: _*),
      "canary_cpu_s" -> canary,
      "jvm_flags" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq,
      "passes" -> passes.toSeq.map { case (traced, mk, hp, execs, layer) =>
        Json.obj("traced" -> traced, "makespan_s" -> mk, "heap_after_gc_mb" -> hp,
          "requests" -> execs.map(execJson),
          "layer" -> Json.obj(layer.toSeq.sortBy(_._1): _*))
      })
    Files.write(out.resolve("result.json"), Json.render(json).getBytes(UTF_8))
    spark.stop()
  }
}

/** Minimal JSON writer (no dependency beyond the Scala library). */
object Json {
  final case class Obj(fields: Seq[(String, Any)])
  def obj(fields: (String, Any)*): Obj = Obj(fields)
  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Number => n.toString
    case Obj(fs) => fs.map { case (k, x) => s"${str(k)}:${render(x)}" }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
