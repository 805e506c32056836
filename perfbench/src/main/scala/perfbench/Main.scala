package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One measured operation. `layers` is filled only by a traced run. */
final case class Sample(kind: String, pass: Int, wallMs: Double, ok: Boolean,
                        layers: Map[String, Double])

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
  /** The highest percentile with at least ten samples beyond it (the
    * maximum when there are fewer than eleven samples). */
  def tail(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; s(math.max(0, s.length - 11)) }
  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(math.log).sum / xs.size)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** The benchmark harness. run.py generates the inputs, then starts
  * this with
  * `--workload W --seed N --seconds S --trace 0|1 --data DIR --work DIR
  * --out FILE`; the JVM's java.io.tmpdir and spark.local.dir point into
  * the run's private temp root. It writes one JSON result to `--out`.
  *
  * Protocol: a cold set-up and one untimed warm-up pass that fixes the
  * reference results; then [[SetupReps]] timed set-ups from scratch
  * (session start, load/DDL, artifact builds — the median is
  * `setup_s`), [[WarmPasses]] untimed pass, and whole passes of the
  * workload's operations in seeded order for about `--seconds`.
  * One client, closed loop: an operation starts when the previous one
  * has finished.
  */
object Main {
  val SetupReps = 5
  val MinPasses = 2
  val WarmPasses = 1

  /** The LLM-pipeline tier: text quality scoring (per-row kernels),
    * 13-gram benchmark decontamination, BPE merge-pair counting (a
    * text-carrying shuffle), IVF ANN top-k and winnowing near-duplicate
    * pairs (both probe an ArtifactStore artifact), and sequence packing
    * (a Staging lineage cut). */
  val CorpusQueries: Seq[String] = Seq(
    "q_text_quality", "q_decontaminate", "q_bpe_pairs", "q_sim_ivf_topk",
    "q_dedup_winnow", "q_seq_pack")

  /** Corpus queries whose first call builds an ArtifactStore artifact:
    * the IVF label-centroid table and the winnowing fingerprint index. */
  val CorpusArtifactQueries: Seq[String] =
    Seq("q_sim_ivf_topk", "q_dedup_winnow")

  def describe(e: Throwable): String =
    s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"

  def shuffle[T](xs: Seq[T], rng: java.util.Random): Seq[T] = {
    val a = xs.toBuffer
    for (i <- a.indices.reverse.dropRight(1)) {
      val j = rng.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }

  private def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** A fixed CPU-bound loop, one thread and all cores, in ms: stamped
    * before and after the run so a slow host shows apart from slow
    * code. */
  def calibrate(): (Double, Double) = {
    def spin(): Long = {
      var x = 0x9e3779b97f4a7c15L; var i = 0
      while (i < 20000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      x
    }
    spin()
    val t1 = System.nanoTime(); spin(); val one = ms(t1)
    val n = Runtime.getRuntime.availableProcessors()
    val t2 = System.nanoTime()
    val ts = (1 to n).map(_ => new Thread(() => { spin(); () }))
    ts.foreach(_.start()); ts.foreach(_.join())
    (one, ms(t2))
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(0.0)

  private val json = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  /** Bytes under `root`, skipping subtrees whose name `skip` accepts. */
  def treeBytes(root: Path, skip: String => Boolean = _ => false): Long =
    if (!Files.exists(root)) 0L
    else if (Files.isDirectory(root)) {
      val s = Files.list(root)
      try s.iterator().asScala.filterNot(p => skip(p.getFileName.toString))
        .map(treeBytes(_, skip)).sum
      finally s.close()
    } else Files.size(root)

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workloadName = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val dataDir = args.getOrElse("data", "")
    val work = Paths.get(args("work"))
    val tmpRoot = Paths.get(sys.props("java.io.tmpdir"))
    // The JDK fixes the temp-file directory at its first temp file; make
    // that happen here, so the engine's temp dirs land in tmpRoot while
    // java.io.tmpdir is later re-pointed per set-up for ArtifactStore.
    Files.delete(Files.createTempFile(tmpRoot, "perfbench", ".probe"))
    Files.delete(Files.createTempFile("perfbench", ".probe"))
    val cores = graft.Engine.defaultParallelism

    val workload: Workload = workloadName match {
      case "corpus" => new QueryWorkload(CorpusQueries,
        Seq("documents", "embeddings"), CorpusArtifactQueries, dataDir,
        work.resolve("dump").toString)
      case "htap_stmt" => new StatementWorkload(seed,
        args.getOrElse("rows", "20000").toInt, work.resolve("io").toString,
        tmpRoot)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }

    val (calPre1, calPreN) = calibrate()
    val tracer = new Tracer(traced)

    // A fresh session and artifact root for set-up `i` (0 is the cold
    // one that JVM start and the reference warm-up run on).
    var spark: SparkSession = null
    def newSession(i: Int): Double = {
      if (spark != null) { workload.teardown(); spark.stop() }
      val artifacts = tmpRoot.resolve(s"artifacts-$i")
      Files.createDirectories(artifacts)
      System.setProperty("java.io.tmpdir", artifacts.toString)
      val t0 = System.nanoTime()
      spark = graft.Engine.session(s"local[$cores]", cores, "graft-perfbench")
      spark.sparkContext.setLogLevel("ERROR")
      ms(t0)
    }

    // Cold set-up and the reference warm-up: untimed, they pay JVM start,
    // class loading and the first JIT compiles.
    val tw = System.nanoTime()
    newSession(0)
    workload.prepare(spark)
    val failures = mutable.ArrayBuffer.empty[(String, String)]
    failures ++= workload.warmup(tracer)
    val warmupMs = ms(tw)
    if (workload.oracles.nonEmpty)
      Files.writeString(work.resolve("oracle_sql.json"),
        json.writeValueAsString(workload.oracles))

    // Timed set-ups on the warm JVM, each from scratch: session start,
    // load/DDL, ArtifactStore builds.
    val sessionMs = mutable.ArrayBuffer.empty[Double]
    val setupMs = (1 to SetupReps).map { i =>
      val t0 = System.nanoTime()
      sessionMs += newSession(i)
      workload.prepare(spark)
      ms(t0)
    }
    val artifactBytes = treeBytes(tmpRoot.resolve(s"artifacts-$SetupReps"))
    workload.sessions.foreach(tracer.install)

    // An untimed pass on the last set-up's session, so its first-call
    // costs stay out of the measured window; by its end the JVM has run
    // for over 30 s of passes, past where pass times stop falling on a
    // 4-core host.
    val warmRng = new java.util.Random(~seed)
    for (_ <- 1 to WarmPasses)
      workload.pass(warmRng).foreach { op =>
        try op.run(tracer)
        catch { case e: Throwable => failures += op.kind -> describe(e) }
      }

    if (traced) {
      workload.sessions.foreach(tracer.drain)
      tracer.reset()
      workload.afterOp()
    }

    // Temp-root bytes the measured window leaves behind: everything
    // except the artifact roots and the workload's live stores, and the
    // part of it in Staging's lineage-cut dirs.
    def residue(): (Long, Long) = {
      val skip = (n: String) => n.startsWith("artifacts-") || workload.owns(n)
      val top = Files.list(tmpRoot)
      val staging = try top.iterator().asScala
        .filter(_.getFileName.toString.startsWith("graft-stage"))
        .map(treeBytes(_)).sum
      finally top.close()
      (treeBytes(tmpRoot, skip), staging)
    }
    val (residue0, staging0) = residue()

    // Measured window: whole passes, at least MinPasses, then another
    // only while it is expected to end within `seconds`.
    val rng = new java.util.Random(seed)
    val samples = mutable.ArrayBuffer.empty[Sample]
    val passMs = mutable.ArrayBuffer.empty[Double]
    val tm = System.nanoTime()
    var passNo = 0
    while (passNo < MinPasses ||
        ms(tm) + Stats.mean(passMs.toSeq) <= seconds * 1000) {
      val tp = System.nanoTime()
      workload.pass(rng).foreach { op =>
        val cg0 = tracer.codegenCompiles
        val t0 = System.nanoTime()
        val spanId = tracer.spans.length
        var err = try { tracer.span(op.kind)(op.run(tracer)); "" }
          catch { case e: Throwable => describe(e) }
        val wall = ms(t0)
        val layers =
          if (!traced) Map.empty[String, Double]
          else {
            workload.sessions.foreach(tracer.drain)
            workload.afterOp()
            tracer.opLayers(tracer.spans(spanId)) +
              ("codegen" -> (tracer.codegenCompiles - cg0).toDouble)
          }
        if (traced && err.isEmpty) {
          val share = layers("unattributed_ms") / math.max(wall, 1e-9)
          if (share > Layers.Tolerance) err = "trace incomplete: layer " +
            f"spans leave ${share * 100}%.1f%% of the wall time " +
            f"unattributed (tolerance ${Layers.Tolerance * 100}%.0f%%)"
        }
        if (err.nonEmpty) failures += op.kind -> err
        samples += Sample(op.kind, passNo, wall, err.isEmpty, layers)
      }
      passMs += ms(tp)
      passNo += 1
    }
    val measuredMs = ms(tm)
    val (residue1, staging1) = residue()
    failures ++= workload.finish().map("final" -> _)
    workload.teardown()
    tracer.uninstall()
    spark.stop()
    val (calPost1, calPostN) = calibrate()

    val walls = samples.map(_.wallMs).toSeq
    val perKind = samples.groupBy(_.kind).map { case (k, s) =>
      k -> Stats.median(s.map(_.wallMs).toSeq) }

    // The tail needs many more samples than a run of a few seconds
    // holds to sit above the median, so it is reported here with its
    // sample count and not gated.
    val e2e = Map(
      "ops_per_s" -> samples.size / (measuredMs / 1000),
      "op_geomean_ms" -> Stats.geomean(perKind.values.toSeq),
      "pass_s" -> Stats.median(passMs.toSeq) / 1000,
      "setup_s" -> Stats.median(setupMs) / 1000,
      "peak_rss_mb" -> peakRssMb())
    val layers = Layers.summarize(samples.toSeq) ++
      workload.layerMetrics(samples.toSeq) ++ Map(
        "engine.session_s" -> Stats.median(sessionMs.toSeq) / 1000,
        "artifacts.bytes" -> artifactBytes.toDouble,
        "staging.residue_bytes" -> (staging1 - staging0).toDouble / passNo,
        "tmp.residue_bytes" -> (residue1 - residue0).toDouble / passNo)

    val out = Map(
      "workload" -> workloadName, "seed" -> seed, "seconds" -> seconds,
      "trace" -> traced, "cpus" -> cores,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "calibration_ms" -> Map("pre_1t" -> calPre1,
        "pre_allcores" -> calPreN, "post_1t" -> calPost1,
        "post_allcores" -> calPostN),
      "setup_ms" -> setupMs, "session_ms" -> sessionMs,
      "warmup_ms" -> warmupMs, "measured_ms" -> measuredMs,
      "pass_ms" -> passMs, "passes" -> passNo,
      "attempted" -> samples.size,
      "failed" -> samples.count(!_.ok),
      "failures" -> failures.map { case (k, e) =>
        Map("op" -> k, "error" -> e) },
      "per_kind_p50_ms" -> perKind,
      "op_p50_ms" -> Stats.median(walls),
      "op_tail_ms" -> Stats.tail(walls),
      "per_kind_samples" -> samples.groupBy(_.kind).map { case (k, s) => k -> s.size },
      "end_to_end" -> e2e,
      "per_layer" -> layers,
      "samples" -> samples.map(s => Map("kind" -> s.kind,
        "pass" -> s.pass, "wall_ms" -> s.wallMs, "ok" -> s.ok)),
      "spans" -> (if (!traced) Nil else tracer.spans.map(s => Map(
        "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs))))
    json.writeValue(Paths.get(args("out")).toFile, out)
  }
}
