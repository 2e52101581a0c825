package kgbench

import java.io.{ByteArrayOutputStream, PrintStream}
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.{ExtractMain, IncrementalMain, QueryMain}
import graft.core.Extractor
import graft.html.MicroDoc
import graft.model.Triple
import graft.spark._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One benchmark run: set up, warm up, then a closed loop with one client
  * running the workload's builds, then its folds, then read rounds until
  * `--seconds` have passed since the first timed op. Writes `result.json`
  * (metrics, op counts, and the outputs `check.py` verifies) into `--work`.
  *
  *   KgBench --workload markup|linked --seed N --seconds S --trace 0|1
  *           --inputs DIR --work DIR --t0-ms EPOCH_MS --gen-s S --cores N
  *
  * `--inputs` holds the transcripts `corpus.py` generated and its
  * `params.json`; `--gen-s` is the time that took (part of set-up);
  * `--t0-ms` is when the JVM was started.
  */
object KgBench {

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        inputs: String, work: String, t0Ms: Long, genS: Double, cores: Int)

  /** The generator parameters `corpus.params` writes to `params.json`. */
  final case class Params(seedKey: Long, folds: Int, markupTurns: Long,
                          entities: Long, fanout: Long)

  def readParams(inputs: String): Params = {
    val j = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Paths.get(inputs, "params.json").toFile)
    Params(j.get("seed_key").asLong, j.get("folds").asInt,
      j.get("markup_turns").asLong, j.get("entities").asLong, j.get("fanout").asLong)
  }

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv("trace") == "1", kv("inputs"), kv("work"), kv("t0-ms").toLong, kv("gen-s").toDouble,
      kv("cores").toInt)
    val spark = GraftSession.builder(s"local[${o.cores}]", o.cores)
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try new Run(spark, o).run()
    finally spark.stop()
    System.err.println(s"[kgbench] ${(System.currentTimeMillis() - o.t0Ms) / 1000.0} session stopped")
  }

  // ---- small helpers shared by the workloads ----

  def seconds(ns: Long): Double = ns / 1e9

  def median(xs: Seq[Double]): Double = Trace.median(xs)

  def dataFiles(dir: String): Seq[Path] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter { f =>
        val n = f.getFileName.toString
        Files.isRegularFile(f) && !n.startsWith("_") && !n.startsWith(".") &&
          !f.iterator().asScala.exists(_.toString.startsWith("_graft"))
      }.toVector finally s.close()
    }
  }

  def dataBytes(dirs: String*): Long = dirs.flatMap(dataFiles).map(Files.size).sum

  def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).iterator().asScala
        .foreach(f => Files.delete(f))
      finally s.close()
    }
  }

  def copyTree(src: String, dst: String): Unit = {
    val from = Paths.get(src)
    if (Files.exists(from)) {
      val s = Files.walk(from)
      try s.iterator().asScala.foreach { f =>
        val t = Paths.get(dst).resolve(from.relativize(f).toString)
        if (Files.isDirectory(f)) Files.createDirectories(t) else Files.copy(f, t)
      } finally s.close()
    }
  }

  /** Force a lazily planned frame without collecting it. */
  def force(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Call a CLI `main` and return what it printed. */
  def captured(body: => Unit): String = {
    val buf = new ByteArrayOutputStream()
    Console.withOut(new PrintStream(buf, true, "UTF-8"))(body)
    buf.toString("UTF-8")
  }
}

/** Vocabulary the queries name (the inputs come from `corpus.py`). */
object Vocab {
  val Schema = "http://schema.org/"
  val Contact = Schema + "contact"
  val ReportsTo = Schema + "reportsTo"
  val RdfType = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
}

/** What a workload contributes: its inputs, its root, and its three ops. */
abstract class Workload(val spark: SparkSession, val o: KgBench.Opts) {
  /** timed builds and the minimum number of read rounds */
  val builds: Int
  val minRounds: Int
  val params: KgBench.Params = KgBench.readParams(o.inputs)
  def folds: Int = params.folds

  val in: String = o.inputs
  val root: String = s"${o.work}/root"

  def seedRoot(): Unit
  /** One full build of `input` into `out`; returns triples materialized. */
  def build(input: String, out: String): Long
  /** The smaller corpus of the untimed warm-up build. */
  def warmInput: String
  def fold(i: Int): Unit
  def linkKeys: Seq[String]
  /** The read mix of one round; each query writes its output under `dir`. */
  def readMix(round: Int, graph: String, dir: String): Seq[Query]
  /** Every transcript the standing root has seen, for the from-scratch check. */
  def rootInputs(nFolds: Int): Seq[String]
  def buildInput: String

  def deltaInput(i: Int): String = s"$in/deltas/fold=$i"

  protected def query(kind: String, args: String*): Query = Query(kind, args)
}

/** One read: `QueryMain` arguments, or for kind `pagerank` the graph,
  * predicate, iteration count and output of a `GraphRank.pagerank` call.
  * `check.py` re-evaluates it from these same arguments.
  */
final case class Query(kind: String, args: Seq[String]) {
  def arg(k: String): String = args(args.indexOf(s"--$k") + 1)

  def run(spark: SparkSession): Unit =
    if (kind == "pagerank")
      GraphRank.pagerank(GraphQuery.loadGraph(spark, arg("graph")), Some(arg("pred")),
          arg("iters").toInt)
        .write.mode("overwrite").parquet(arg("output"))
    else QueryMain.run(args.toArray, spark)
}

final class Markup(spark: SparkSession, o: KgBench.Opts) extends Workload(spark, o) {
  /** Resume bucket count of a build (ExtractMain's default is 256) */
  val buckets = 16
  val builds = 4; val minRounds = 2

  def buildInput: String = s"$in/corpus"
  def linkKeys: Seq[String] = Seq(Vocab.Schema + "headline")

  def seedRoot(): Unit = IncrementalMain.run(Map("root" -> root, "input" -> buildInput), spark)

  def warmInput: String = deltaInput(0)

  def build(input: String, out: String): Long = {
    val said = KgBench.captured(ExtractMain.main(
      Array("--input", input, "--output", out, "--buckets", buckets.toString)))
    "Parsed (\\d+) statements".r.findFirstMatchIn(said).map(_.group(1).toLong)
      .getOrElse(sys.error(s"ExtractMain printed no statement count: $said"))
  }

  def fold(i: Int): Unit =
    IncrementalMain.run(Map("root" -> root, "input" -> deltaInput(i)), spark)

  def rootInputs(nFolds: Int): Seq[String] = buildInput +: (0 until nFolds).map(deltaInput)

  /** Point lookup, a five-pattern star and a describe, with constants
    * drawn from the round number.
    */
  def readMix(round: Int, graph: String, dir: String): Seq[Query] = {
    // turn id is an Article when (id + seed_key) % 4 = 1 (corpus.markup_kind)
    val article = 4 * ((round * 7919L) % (params.markupTurns / 4)) +
      java.lang.Math.floorMod(1 - params.seedKey, 4L)
    val s = Vocab.Schema
    Seq(
      query("bgp", "--graph", graph, "--output", s"$dir/point",
        "--pattern", s"""?a <${s}headline> "Headline $article""""),
      query("bgp", "--graph", graph, "--output", s"$dir/star",
        "--pattern", s"?p <${Vocab.RdfType}> <${s}Person>",
        "--pattern", s"?p <${s}name> ?n",
        "--pattern", s"?p <${s}org> ?o",
        "--pattern", s"?o <${s}name> ?on",
        "--pattern", s"""?p <${s}score> "${round % 97}""""),
      query("bgp", "--graph", graph, "--output", s"$dir/describe",
        "--describe", "o", "--pattern", s"""?o <${s}orderStatus> "S${round % 50}""""))
  }

}

final class Linked(spark: SparkSession, o: KgBench.Opts) extends Workload(spark, o) {
  val builds = 2; val minRounds = 2

  def buildInput: String = s"$in/build"
  def linkKeys: Seq[String] = Seq(Vocab.Contact)

  private def foldOpts(input: String) = Map("root" -> root, "input" -> input,
    "link-keys" -> Vocab.Contact, "entail" -> "true")

  def seedRoot(): Unit = IncrementalMain.run(foldOpts(s"$in/base"), spark)

  def warmInput: String = s"$in/warm"

  /** extract → EntityLink.canonicalize → owlEntailWithTransitive → writeGraph */
  def build(input: String, out: String): Long = {
    val extracted = ExtractPipeline.extract(spark.read.parquet(input))
    val closed = Entailment.owlEntailWithTransitive(EntityLink.canonicalize(extracted, linkKeys))
    ExtractPipeline.writeGraph(closed, out)
    val layout = TableIO.default.readMetadata(spark, out, ExtractPipeline.LayoutFile).get
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(layout).get("pred_stats")
      .elements().asScala.map(_.asLong()).sum
  }

  def fold(i: Int): Unit = IncrementalMain.run(foldOpts(deltaInput(i)), spark)

  def rootInputs(nFolds: Int): Seq[String] = s"$in/base" +: (0 until nFolds).map(deltaInput)

  /** A star over canonical ids (on the last build), a `reportsTo+` path
    * from a constant seed, the root's canonical view, and PageRank over
    * the root's `reportsTo` edges.
    */
  def readMix(round: Int, graph: String, dir: String): Seq[Query] = {
    val s = Vocab.Schema
    val entity = (round * 7919L) % params.entities
    val manager = 1 + round % (params.fanout - 1)
    Seq(
      query("bgp", "--graph", graph, "--output", s"$dir/star",
        "--pattern", s"?m <${Vocab.RdfType}> <http://ex.org/Agent>",
        "--pattern", s"""?m <${s}name> "Entity $entity"""",
        "--pattern", s"?m <http://ex.org/identifier> ?k",
        "--pattern", s"?m <http://xmlns.com/foaf/0.1/name> ?n"),
      query("path", "--graph", s"$root/graph", "--output", s"$dir/path",
        "--pattern", s"?e <${Vocab.ReportsTo}>+ <http://ex.org/emp/$manager>"),
      query("canonical", "--canonical", root, "--output", s"$dir/canonical",
        "--pattern", s"""?m <${s}name> "Entity $entity"""",
        "--pattern", s"?m <${Vocab.Contact}> ?k"),
      query("pagerank", "--graph", s"$root/graph", "--pred", Vocab.ReportsTo, "--iters", "10",
        "--output", s"$dir/pagerank"))
  }

}

/** The run itself: set-up, warm-up, the timed loop, and (traced) the
  * per-layer probes.
  */
final class Run(spark: SparkSession, o: KgBench.Opts) {
  import KgBench._

  private val w: Workload = o.workload match {
    case "markup" => new Markup(spark, o)
    case "linked" => new Linked(spark, o)
    case other => sys.error(s"unknown workload $other")
  }
  private val trace: Option[Trace] =
    if (o.trace) { val t = new Trace(spark); spark.sparkContext.addSparkListener(t); Some(t) }
    else None
  private def span[T](layer: String)(body: => T): T = trace match {
    case Some(t) => t.span(layer)(body)
    case None => body
  }

  // peak heap in use after a collection, over the timed ops
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  @volatile private var timing = false
  @volatile private var peakHeap = 0L
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach { gc =>
    gc.asInstanceOf[javax.management.NotificationEmitter].addNotificationListener(
      (n: javax.management.Notification, _: Any) => {
        if (timing && n.getType ==
            com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = com.sun.management.GarbageCollectionNotificationInfo
            .from(n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          peakHeap = math.max(peakHeap, used)
        }
      }, null, null)
  }
  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).sum

  private var attempted = 0L
  private var failed = 0L
  // GC time inside op bodies only: not the forced collection before each
  // op, nor the fold probes between ops
  private var opGcMs = 0L

  /** One timed op: a collection first (so every op starts from the same
    * heap), then the op under the wall clock. A thrown op counts as failed.
    */
  private def op(kind: String)(body: => Unit): Double = {
    System.gc()
    attempted += 1
    val gc0 = gcMs
    val t0 = System.nanoTime()
    try {
      span(kind)(body)
      val dt = seconds(System.nanoTime() - t0)
      log(f"$kind%s $dt%.3f s")
      dt
    } catch {
      case e: Exception =>
        failed += 1
        System.err.println(s"[kgbench] $kind failed: $e")
        e.printStackTrace()
        Double.NaN
    } finally opGcMs += gcMs - gc0
  }

  private def log(msg: String): Unit =
    System.err.println(f"[kgbench] ${(System.currentTimeMillis() - o.t0Ms) / 1000.0}%.1f $msg")

  def run(): Unit = {
    val sessionS = (System.currentTimeMillis() - o.t0Ms) / 1000.0
    log("session up")
    // the small warm-up build runs first, so the JIT compiles the hot
    // paths on little data before the root is seeded
    val tWarm = System.nanoTime()
    val warmBuild = s"${o.work}/warm"
    w.build(w.warmInput, warmBuild)
    log("warm build done")
    val tSeed = System.nanoTime()
    w.seedRoot()
    val seedS = seconds(System.nanoTime() - tSeed)
    log("root seeded")
    w.readMix(0, warmBuild, s"${o.work}/warmq").foreach(_.run(spark))
    deleteTree(warmBuild)
    deleteTree(s"${o.work}/warmq")
    val warmS = seconds(System.nanoTime() - tWarm) - seedS
    val setupS = o.genS + sessionS + seedS + warmS

    // ---- timed phase ----
    timing = true
    val tTimed = System.nanoTime()
    val buildS = mutable.ArrayBuffer.empty[Double]
    val buildTriples = mutable.ArrayBuffer.empty[Long]
    val buildBpt = mutable.ArrayBuffer.empty[Double]
    var lastBuild: String = null
    (0 until w.builds).foreach { i =>
      val out = s"${o.work}/build$i"
      var n = 0L
      val dt = op("build") { n = w.build(w.buildInput, out) }
      if (!dt.isNaN) {
        buildS += dt; buildTriples += n
        buildBpt += dataBytes(out).toDouble / math.max(n, 1L)
        if (lastBuild != null) deleteTree(lastBuild)
        lastBuild = out
      }
    }
    val foldS = (0 until w.folds).map { f =>
      if (f < 2) trace.foreach { t =>
        timing = false
        foldProbes(t, f)
        timing = true
      }
      op("fold")(w.fold(f))
    }
    val roundS = mutable.ArrayBuffer.empty[Double]
    val queries = mutable.ArrayBuffer.empty[Query]
    var round = 0
    while (round < w.minRounds || seconds(System.nanoTime() - tTimed) < o.seconds) {
      round += 1
      val dir = s"${o.work}/q/r$round"
      val ts = w.readMix(round, lastBuild, dir).map { q =>
        val dt = op(s"query.${q.kind}")(q.run(spark))
        if (!dt.isNaN) queries += q
        dt
      }
      roundS += ts.sum
    }
    timing = false
    val timedOps = attempted
    val gcS = opGcMs / 1000.0

    // ---- untimed: what the checker compares against ----
    val scratch = s"${o.work}/scratch_extract"
    ExtractPipeline.canonicalize(ExtractPipeline.extract(
        w.rootInputs(w.folds).map(spark.read.parquet(_)).reduce(_ unionByName _)))
      .write.mode("overwrite").parquet(scratch)
    log("from-scratch extraction written")
    val rootTriples = spark.read.parquet(s"${w.root}/graph").count()
    val rootDirs = Seq("graph", "closure", "link_state").map(d => s"${w.root}/$d")
    val rootBpt = dataBytes(rootDirs: _*).toDouble / rootTriples

    val e2e = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (setupS, "s"),
      "build_s" -> (median(buildS.toSeq), "s"),
      "build_triples_per_s" -> (median(buildTriples.zip(buildS).map { case (n, s) => n / s }.toSeq),
        "triples/s"),
      "fold_p50_s" -> (median(foldS.filterNot(_.isNaN)), "s"),
      "query_round_s" -> (median(roundS.filterNot(_.isNaN).toSeq), "s"),
      "peak_heap_mb" -> (peakHeap / 1048576.0, "MB"),
      "build_bytes_per_triple" -> (median(buildBpt.toSeq), "B/triple"),
      "root_bytes_per_triple" -> (rootBpt, "B/triple"))
    val perLayer = trace.map(t => layerProbes(t, lastBuild, round, gcS / timedOps))

    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def metricsNode(m: collection.Map[String, (Double, String)]) = {
      val node = mapper.createObjectNode()
      m.foreach { case (k, (v, u)) =>
        val e = node.putObject(k); e.put("value", v); e.put("unit", u)
      }
      node
    }
    val res = mapper.createObjectNode()
    res.put("workload", o.workload)
    res.put("seed", o.seed)
    res.put("attempted", attempted)
    res.put("failed", failed)
    res.replace("end_to_end", metricsNode(e2e))
    perLayer.foreach(p => res.replace("per_layer", metricsNode(p)))
    val detail = res.putObject("detail")
    detail.put("rounds", round)
    detail.put("gen_s", o.genS)
    detail.put("session_s", sessionS)
    detail.put("seed_s", seedS)
    detail.put("warmup_s", warmS)
    detail.put("build_s", buildS.mkString(","))
    detail.put("fold_s", foldS.mkString(","))
    detail.put("round_s", roundS.mkString(","))
    // what check.py verifies
    val chk = res.putObject("check")
    chk.put("build", lastBuild)
    chk.put("root", w.root)
    chk.put("scratch_extract", scratch)
    chk.put("inputs", w.in)
    val qs = chk.putArray("queries")
    queries.foreach { q =>
      val n = qs.addObject()
      n.put("kind", q.kind)
      val arr = n.putArray("args")
      q.args.foreach(arr.add(_))
    }
    Files.write(Paths.get(s"${o.work}/result.json"),
      mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(res))
    log("result written")
  }

  // ---------------- traced run: per-layer probes ----------------

  /** Before timed fold f: the fold's link-state and closure layers alone,
    * on the same delta, against a copy of the standing state (the copy
    * keeps the root untouched).
    */
  private def foldProbes(t: Trace, f: Int): Unit = {
    val delta = ExtractPipeline.extract(spark.read.parquet(w.deltaInput(f)))
      .dropDuplicates(Triple.identityCols).localCheckpoint()
    val state = s"${o.work}/probe_link_state"
    deleteTree(state)
    copyTree(s"${w.root}/link_state", state)
    t.span("fold.link")(LinkStateStore.fold(delta, state, 1000000L + f, w.linkKeys).count())
    deleteTree(state)
    val closureDir = if (Files.exists(Paths.get(s"${w.root}/closure"))) s"${w.root}/closure"
                     else s"${w.root}/graph"
    import spark.implicits._
    val closed = spark.read.parquet(closureDir)
      .select(Triple.identityCols.map(col) ++ Seq(col("conv_id"), col("turn_idx")): _*)
      .as[Triple]
    t.span("fold.closure")(force(Entailment.owlEntailIncremental(closed, delta).toDF()))
  }

  private def layerProbes(t: Trace, lastBuild: String, rounds: Int,
                          gcPerOp: Double): mutable.LinkedHashMap[String, (Double, String)] = {
    val reps = 2
    val transcripts = spark.read.parquet(w.buildInput)
    // row-local core, single-threaded over the workload's own documents
    val docs = transcripts.filter(ExtractPipeline.markupFilter)
      .select(col("conv_id"), col("turn_idx"), col("text")).limit(4000).collect()
      .map(r => (r.getString(0) + "#" + r.getInt(1), r.getString(2)))
    def perDoc(f: ((String, String)) => Unit): Double = median((0 until 7).map { _ =>
      val t0 = System.nanoTime()
      docs.foreach(f)
      (System.nanoTime() - t0) / 1e3 / docs.length
    })
    perDoc(d => MicroDoc.parse(d._2)) // warm the JIT before either is timed
    val parseUs = perDoc(d => MicroDoc.parse(d._2))
    val extractUs = perDoc(d => Extractor.extract(d._2, d._1, null, ExtractPipeline.defaultRegistry))

    (0 until reps).foreach(_ => t.span("extract")(force(ExtractPipeline.extract(transcripts).toDF())))
    val turnsMarkup = transcripts.filter(ExtractPipeline.markupFilter).count()
    val extracted = ExtractPipeline.extract(transcripts).localCheckpoint()
    val yielding = extracted.select(col("conv_id"), col("turn_idx")).distinct().count()
    (0 until reps).foreach(_ =>
      t.span("canonicalize")(force(ExtractPipeline.canonicalize(extracted).toDF())))
    val linkEdges = extracted.filter(col("pred").isin(w.linkKeys: _*) &&
      col("obj_lexical").isNotNull && col("subj").startsWith(Extractor.SkolemPrefix)).count()
    (0 until reps).foreach(_ =>
      t.span("link")(force(EntityLink.canonicalize(extracted, w.linkKeys).toDF())))
    val linked = EntityLink.canonicalize(extracted, w.linkKeys).localCheckpoint()
    (0 until reps).foreach(_ =>
      t.span("entail")(force(Entailment.owlEntailWithTransitive(linked).toDF())))
    // storage: the write step of this workload's build
    val writeDir = s"${o.work}/probe_write"
    val writeFiles = mutable.ArrayBuffer.empty[Double]
    val writeBytes = mutable.ArrayBuffer.empty[Double]
    (0 until reps).foreach { _ =>
      deleteTree(writeDir)
      w match {
        case m: Markup =>
          t.span("write")(Resume.writeWithResume(transcripts, writeDir, m.buckets))
        case _ =>
          val closed = Entailment.owlEntailWithTransitive(linked).localCheckpoint()
          t.span("write")(ExtractPipeline.writeGraph(closed, writeDir))
      }
      writeFiles += dataFiles(writeDir).size
      writeBytes += dataBytes(writeDir)
    }
    deleteTree(writeDir)
    (0 until reps).foreach(_ => t.span("graph_open")(GraphQuery.loadGraph(spark, lastBuild)))
    // the markup read mix holds BGPs only; its path, canonical-view and
    // PageRank layers are probed here on its own data
    w match {
      case _: Markup =>
        val org = Vocab.Schema + "org"
        (1 to reps).foreach { r =>
          val dir = s"${o.work}/probe_q/r$r"
          t.span("query.path")(QueryMain.run(Array("--graph", lastBuild, "--output", s"$dir/path",
            "--pattern", s"?p <$org>+ <http://ex.org/org/${r * 7}>"), spark))
          t.span("query.canonical")(QueryMain.run(Array("--canonical", w.root,
            "--output", s"$dir/canonical", "--pattern", s"?o <${Vocab.Schema}name> \"Org ${r * 7}\""),
            spark))
          t.span("query.pagerank")(GraphRank.pagerank(GraphQuery.loadGraph(spark, lastBuild),
            Some(org), 10).write.mode("overwrite").parquet(s"$dir/pagerank"))
        }
        deleteTree(s"${o.work}/probe_q")
      case _ => ()
    }

    def a(n: String) = t.acc(n)
    def perCall(n: String, f: t.Acc => Double): Double = { val x = a(n); if (x.calls == 0) 0.0 else f(x) / x.calls }
    def medWall(n: String): Double = median(a(n).wallsNs.map(_ / 1e9).toSeq)
    val queryKinds = Seq("query.bgp", "query.path", "query.canonical", "query.pagerank")
    val timedSpans = Seq("build", "fold") ++ queryKinds
    val skews = timedSpans.flatMap(n => a(n).skews)
    mutable.LinkedHashMap(
      "core.parse_us_per_doc" -> (parseUs, "us"),
      "core.extract_us_per_doc" -> (extractUs, "us"),
      "extract.s" -> (medWall("extract"), "s"),
      "extract.turns_markup" -> (turnsMarkup.toDouble, "count"),
      "extract.prefilter_yield" -> (yielding.toDouble / math.max(turnsMarkup, 1L), "ratio"),
      "extract.task_skew" -> (median(a("extract").skews.toSeq), "ratio"),
      "canonicalize.s" -> (medWall("canonicalize"), "s"),
      "canonicalize.shuffle_bytes" -> (perCall("canonicalize", _.shuffleBytes), "B"),
      "write.s" -> (medWall("write"), "s"),
      "write.files" -> (median(writeFiles.toSeq), "count"),
      "write.bytes" -> (median(writeBytes.toSeq), "B"),
      "graph_open.s" -> (medWall("graph_open"), "s"),
      "link.s" -> (medWall("link"), "s"),
      "link.edges" -> (linkEdges.toDouble, "count"),
      "link.jobs" -> (perCall("link", _.jobs), "count"),
      "link.shuffle_bytes" -> (perCall("link", _.shuffleBytes), "B"),
      "entail.s" -> (medWall("entail"), "s"),
      "entail.jobs" -> (perCall("entail", _.jobs), "count"),
      "entail.shuffle_bytes" -> (perCall("entail", _.shuffleBytes), "B"),
      "query.bgp_s" -> (medWall("query.bgp"), "s"),
      "query.path_s" -> (medWall("query.path"), "s"),
      "query.canonical_s" -> (medWall("query.canonical"), "s"),
      "query.pagerank_s" -> (medWall("query.pagerank"), "s"),
      "query.input_bytes" -> (queryKinds.map(a(_).inputBytes).sum.toDouble / rounds, "B"),
      "query.jobs" -> (queryKinds.map(a(_).jobs).sum.toDouble / rounds, "count"),
      "fold.input_bytes" -> (perCall("fold", _.inputBytes), "B"),
      "fold.output_bytes" -> (perCall("fold", _.outputBytes), "B"),
      "fold.jobs" -> (perCall("fold", _.jobs), "count"),
      "fold.link_s" -> (medWall("fold.link"), "s"),
      "fold.closure_s" -> (medWall("fold.closure"), "s"),
      "root.files" -> (Seq("graph", "closure", "link_state")
        .map(d => dataFiles(s"${w.root}/$d").size).sum.toDouble, "count"),
      "spark.gc_s" -> (gcPerOp, "s"),
      "spark.task_skew" -> (median(skews), "ratio"))
  }
}
