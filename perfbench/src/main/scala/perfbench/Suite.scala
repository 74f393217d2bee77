package perfbench

import org.apache.spark.sql.SparkSession
import graft.SparkEntry
import graft.queries.{AnalyticsSuite, Pipeline, RdfSuite, Relational, TemporalSuite}

/** The `suite` workload: one client, closed loop. A fixed slice of the
  * engine's bulk-load steps, then a fixed slice of `SparkEntry.queries`
  * covering every module, in a fixed order. Each query is timed as build
  * (the suite function returning its DataFrame) plus an action that
  * computes every output column, and checked against its committed
  * fingerprint. Two passes; a query's time is the faster of its two runs,
  * the engine's own min-of-2 bench protocol.
  */
final class Suite(spark: SparkSession, probe: Probe, trace: Trace,
                  args: Main.Args, rec: Record) {
  private val dir = args("data")

  private final case class Sample(buildMs: Double, actionMs: Double,
                                  t0: Long, tBuilt: Long, t1: Long) {
    def totalMs: Double = buildMs + actionMs
  }

  def run(): Unit = {
    // warm-up, as the engine's own bench harness does: JIT, codegen and
    // footer caches, so the first timed query is not charged JVM start
    Fingerprint.of(SparkEntry.queries("agg_minmax")(spark, dir))
    val setupS = Main.setupSeconds(args)
    val codegen0 = Probe.codegenMs
    val tStart = System.currentTimeMillis()

    val loadSteps = runLoad()
    val loaded = Suite.artifacts()
    val expected =
      if (args.get("record").isDefined) Map.empty[String, Fingerprint.Value]
      else Suite.readExpected(args.get("expected"))
    val names = Suite.Queries
    val samples = scala.collection.mutable.LinkedHashMap.empty[String, Seq[Sample]]
    val observed = scala.collection.mutable.LinkedHashMap.empty[String, Fingerprint.Value]
    val badQueries = scala.collection.mutable.Set.empty[String]
    // two whole passes, as the engine's bench protocol does; a query's
    // time is the faster of its two runs
    (1 to Suite.Passes).foreach { _ =>
      names.foreach { name =>
        runQuery(name, expected.get(name)) match {
          case Right((s, fp)) if !badQueries(name) =>
            samples(name) = samples.getOrElse(name, Seq.empty) :+ s
            observed(name) = fp
          case Right(_) =>
          case Left(why) =>
            badQueries += name
            samples.remove(name)
            rec.fail(s"query $name: $why")
        }
      }
    }
    val tEnd = System.currentTimeMillis()
    // the load steps must build every artifact the slice reads, or a
    // query's first pass hides the build from load_s and min-of-2 alike
    val lateArtifacts = Suite.artifacts() -- loaded
    if (lateArtifacts.nonEmpty)
      rec.note(s"artifacts built by queries, not by a load step: ${lateArtifacts.toSeq.sorted.mkString(", ")}")
    rec.report("artifacts_built_by_queries") = (lateArtifacts.size.toDouble, "count")
    args.get("record").foreach(Suite.writeExpected(_, observed.toSeq))
    rec.attempted += Layers.loadSteps.size + names.size.toLong * Suite.Passes

    probe.quiesce()
    // per query, its faster sample
    val best = samples.map { case (n, ss) => n -> ss.minBy(_.totalMs) }
    val perQuery = best.values.map(_.totalMs).toSeq
    val loadS = loadSteps.map(_._2).sum
    rec.e2e("setup_s") = (setupS, "s")
    rec.e2e("load_s") = (loadS, "s")
    rec.e2e("op_p50_ms") = (Stats.median(perQuery), "ms")
    rec.e2e("op_mean_ms") = (Stats.mean(perQuery), "ms")

    val inputBytes = Suite.dirBytes(new java.io.File(dir))
    val stored = Suite.dirBytes(new java.io.File(Suite.catalogRoot))
    rec.report("query_total_s") = (perQuery.sum / 1e3, "s")
    rec.report("query_p50_s") = (Stats.median(perQuery) / 1e3, "s")
    val tail = Stats.tailPct(perQuery.size, Seq(99, 95, 90, 75, 66))
    rec.report(s"query_p${tail.toInt}_s") = (Stats.pct(perQuery, tail) / 1e3, "s")
    rec.report("queries_timed") = (perQuery.size.toDouble, "count")
    rec.report("stored_bytes_per_input_byte") = (stored.toDouble / inputBytes, "ratio")

    val all = probe.window(tStart, tEnd + 1)
    Layers.spark(rec, all, tEnd - tStart, Probe.codegenMs - codegen0)
    rec.layers("queries.build_s") = (best.values.map(_.buildMs).sum / 1e3, "s")
    rec.layers("queries.action_s") = (best.values.map(_.actionMs).sum / 1e3, "s")
    rec.layers("queries.eager_jobs") =
      (best.values.map(s => probe.window(s.t0, s.tBuilt).jobs).sum.toDouble, "count")
    loadSteps.foreach { case (step, sec, t0, t1) =>
      rec.layers(s"load.${step}_s") = (sec, "s")
      rec.layers(s"load.$step.jobs") = (probe.window(t0, t1).jobs.toDouble, "count")
    }
    rec.layers("catalog.stored_bytes") = (stored.toDouble, "bytes")
    Suite.modules.foreach { m =>
      val qs = best.filter { case (n, _) => Suite.module(n) == m }.values
      rec.layers(s"$m.suite_s") = (qs.map(_.totalMs).sum / 1e3, "s")
      rec.layers(s"$m.suite_jobs") =
        (qs.map(s => probe.window(s.t0, s.t1).jobs).sum.toDouble, "count")
    }
    Layers.notExercised(rec, Layers.endpointOnly)
  }

  /** The load steps of the slice, in the engine's bench-harness order. */
  private def runLoad(): Seq[(String, Double, Long, Long)] = {
    val all: Map[String, () => Any] = Map(
      "quads" -> (() => RdfSuite.buildQuads(spark, dir).count()),
      "namedQuads" -> (() => RdfSuite.buildNamedQuads(spark, dir).count()),
      "dictStore" -> (() => RdfSuite.dictStore(spark, dir)),
      "ftsIndex" -> (() => AnalyticsSuite.ftsIndex(spark, dir).count()),
      "minhash" -> (() => Pipeline.minhashSketch(spark, dir).count()),
      "shingles" -> (() => Pipeline.shingleIndex(spark, dir).count()),
      "owlTransitive" -> (() => SparkEntry.queries("owl_transitive_locatedin")(spark, dir).count()),
      "psEdges" -> (() => SparkEntry.queries("graph_pagerank")(spark, dir).count()),
      "chainEdges" -> (() => SparkEntry.queries("graph_cc")(spark, dir).count()))
    val steps = Layers.loadSteps.map(s => s -> all(s))
    steps.flatMap { case (step, body) =>
      val t0 = System.currentTimeMillis()
      val n0 = System.nanoTime()
      try {
        trace.span(s"load.$step")(body())
        val t1 = System.currentTimeMillis()
        val sec = (System.nanoTime() - n0) / 1e9
        System.err.println(f"[perfbench] load $step%s ${sec}%.2fs")
        Some((step, sec, t0, t1))
      } catch {
        case e: Throwable =>
          // a failed step is a failure, never a fast load
          rec.fail(s"load step $step: $e")
          None
      }
    }
  }

  private def runQuery(name: String, want: Option[Fingerprint.Value])
      : Either[String, (Sample, Fingerprint.Value)] = {
    val fn = SparkEntry.queries(name)
    try trace.span(s"query.$name") {
      val t0 = System.currentTimeMillis()
      val n0 = System.nanoTime()
      val df = trace.span("build")(fn(spark, dir))
      val n1 = System.nanoTime()
      val tBuilt = System.currentTimeMillis()
      val fp = trace.span("action")(Fingerprint.of(df))
      val n2 = System.nanoTime()
      val t1 = System.currentTimeMillis()
      // free checkpointed/cached RDDs, as the engine's bench harness does,
      // so one query's scratch state does not tax the next
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      System.err.println(f"[perfbench] query $name%s ${(n2 - n0) / 1e6}%.0fms")
      want match {
        case Some(w) if w != fp => Left(s"wrong answer: fingerprint $fp, expected $w")
        case None if args.get("record").isEmpty => Left("no expected fingerprint")
        case _ => Right((Sample((n1 - n0) / 1e6, (n2 - n1) / 1e6, t0, tBuilt, t1), fp))
      }
    } catch {
      case e: Throwable => Left(s"threw $e")
    }
  }
}

object Suite {
  val Passes = 2

  /** The measured slice of `SparkEntry.queries`: every module, the plan
    * shapes the suite is known for, and the queries whose cost `count()`
    * used to hide (text_repetition, text_langid, dedup_dupspan,
    * agg_tpch_q1, text_tfidf).
    */
  val Queries: Seq[String] = Seq(
    // relational, temporal
    "agg_tpch_q1", "join_star_agg", "window_rank_running", "events_sessionize",
    // sparql
    "rdf_bgp_join", "rdf_union_dict", "rdf_path_plus", "rdf_named_graphs", "sparql_text",
    // rules, search, gas
    "owl_transitive_locatedin", "fts_search", "graph_pagerank", "graph_cc",
    // pipeline
    "dedup_minhash_lsh", "dedup_dupspan", "ann_topk", "text_langid", "text_repetition",
    "text_tfidf", "vocab_topk")

  /** The engine module a suite query exercises, for the per-module rollups. */
  def module(name: String): String =
    if (Relational.queries.contains(name)) "relational"
    else if (TemporalSuite.queries.contains(name)) "temporal"
    else if (Pipeline.queries.contains(name)) "pipeline"
    else if (RdfSuite.queries.contains(name)) "sparql"
    else if (name.startsWith("fts_")) "search"
    else if (name.startsWith("rdfs_") || name.startsWith("owl_")) "rules"
    else "gas"

  val modules: Seq[String] =
    Seq("sparql", "gas", "rules", "search", "pipeline", "relational", "temporal")

  /** Where the engine's Catalog keeps this JVM's artifacts. */
  def catalogRoot: String =
    s"${System.getProperty("java.io.tmpdir")}/graft-catalog-${ProcessHandle.current().pid()}"

  /** Names of the Catalog artifacts built so far in this JVM. */
  def artifacts(): Set[String] =
    Option(new java.io.File(catalogRoot).listFiles()).toSeq.flatten
      .flatMap(d => Option(d.listFiles()).toSeq.flatten.map(_.getName)).toSet

  def dirBytes(f: java.io.File): Long =
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum

  private val Header =
    "# name\trows\thash: the suite slice over perfbench/data/sf0.01, recorded with " +
      "--record-expected after tools/oracle_check.py passed 158/158 on these tables"

  /** Expected fingerprints: one `name<TAB>rows<TAB>hash` line per query. */
  def readExpected(path: Option[String]): Map[String, Fingerprint.Value] =
    path.filter(p => new java.io.File(p).exists()).map { p =>
      scala.io.Source.fromFile(p, "UTF-8").getLines()
        .filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
          val Array(n, rows, h) = l.split("\t")
          n -> Fingerprint.Value(rows.toLong, h.toLong)
        }.toMap
    }.getOrElse(Map.empty)

  def writeExpected(path: String, fps: Seq[(String, Fingerprint.Value)]): Unit = {
    val body = Header +: fps.sortBy(_._1).map { case (n, v) => s"$n\t${v.rows}\t${v.hash}" }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      (body.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}
