package perfbench

import java.net.{HttpURLConnection, URI, URLEncoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.queries.{Catalog, RdfSuite}
import graft.rdf.{NTriples, Term}
import graft.server.SparqlServer
import graft.sparql.{Parser, Results, Update}

/** The endpoint workloads: `SparqlServer` serving the quad store built
  * from the benchmark's tables, driven over HTTP from one process.
  *
  * `endpoint_read` sends the read mix closed loop on one connection, one
  * request at a time, in rounds of a fixed template multiset, one round
  * per [[Endpoint.RoundSeconds]] of the run; a request's time is its
  * service time. With no
  * two requests in flight, a template's time does not depend on which
  * other requests the seed happened to overlap it with.
  *
  * `endpoint_mixed` offers reads open loop at a fixed rate, each timed from
  * its due time, plus one sequential writer whose updates touch only the
  * benchmark's own IRI prefix; at the end the store's bench-prefix triples
  * must equal the writer's model.
  */
final class Endpoint(spark: SparkSession, probe: Probe, trace: Trace,
                     args: Main.Args, rec: Record, mixed: Boolean) {
  import Endpoint._

  private val dir = args("data")
  private val cpus = Runtime.getRuntime.availableProcessors()
  private val mapper = new ObjectMapper()

  def run(): Unit = {
    val n0 = System.nanoTime()
    val store = trace.span("load.quads")(RdfSuite.buildQuads(spark, dir))
    rec.report("load_cold_s") = ((System.nanoTime() - n0) / 1e9, "s")
    System.err.println(f"[perfbench] store built at ${Main.setupSeconds(args)}%.1fs")
    val expected = trace.span("expected")(Expected.compute(store))
    System.err.println(f"[perfbench] expected answers at ${Main.setupSeconds(args)}%.1fs")
    val server = new SparqlServer(spark, store).start()
    try {
      val base = s"http://127.0.0.1:${server.boundPort}"
      val client = new Client(base, mapper, expected, trace)
      val seed = args("seed").toLong
      val seconds = args.int("seconds")
      val stream = Generator.rounds(seed, WarmRounds + math.max(1, seconds / RoundSeconds))
      // the first rounds of the stream are untimed: service times of a
      // fresh JVM fall by a third and more over its first rounds
      client.closedLoop(stream.take(WarmRounds).flatten)
      System.err.println(f"[perfbench] warm-up done at ${Main.setupSeconds(args)}%.1fs")
      val cache0 = client.counters("describeCacheEntries")
      val setupS = Main.setupSeconds(args)

      val writes = if (mixed) Generator.writes(seed, seconds * 1000L) else Seq.empty
      val codegen0 = Probe.codegenMs
      val tStart = System.currentTimeMillis()
      val (reads, done, settled) =
        if (mixed) {
          val reads = Generator.reads(seed, Generator.ReadRate, seconds * 1000L)
          val (done, settled) = client.openLoop(reads, writes, cpus - 1)
          (reads, done, settled)
        } else {
          val done = client.closedLoop(stream.drop(WarmRounds).flatten)
          (done.map(_.op), done, true)
        }
      val tEnd = System.currentTimeMillis()

      // every generated request is an attempt; one without a result (still
      // queued or running when the loop gave up) is a failure
      rec.attempted += reads.size + writes.size + (if (mixed) 1 else 0)
      done.filter(!_.ok).foreach(r => rec.fail(s"${r.op.template} ${r.op.id}: ${r.error}"))
      val answered = done.map(_.op.id).toSet
      (reads ++ writes).filterNot(op => answered(op.id))
        .foreach(op => rec.fail(s"${op.template} ${op.id}: no result before the loop's deadline"))
      if (mixed) {
        // with the writer still running, the store is not final
        if (!settled) rec.fail("a client worker outlived its deadline: bench-prefix check not made")
        else if (!client.checkWrites(Generator.model(writes)))
          rec.fail("bench-prefix triples differ from the acknowledged writes")
      }
      val cacheEntries = client.counters("describeCacheEntries") - cache0

      val ok = done.filter(_.ok)
      ok.groupBy(_.op.template).toSeq.sortBy(_._1).foreach { case (t, rs) =>
        System.err.println(f"[perfbench] $t%-15s n=${rs.size}%4d service p50 " +
          f"${Stats.median(rs.map(_.serviceMs))}%8.1f ms, max ${rs.map(_.serviceMs).max}%8.1f ms")
      }
      val rd = ok.filter(!_.op.write).map(_.latencyMs)
      val wr = ok.filter(_.op.write).map(_.latencyMs)
      val ops = ok.map(_.latencyMs)
      rec.e2e("setup_s") = (setupS, "s")
      rec.e2e("op_p50_ms") = (Stats.median(ops), "ms")
      // each template's median latency, weighted by its share of the mix
      // (`endpoint_read`: of a round; `endpoint_mixed`: of the run's requests)
      val byTemplate = ok.groupBy(_.op.template).map { case (t, rs) =>
        t -> Stats.median(rs.map(_.latencyMs)) }
      val weights = if (mixed) ok.groupBy(_.op.template).map { case (t, rs) => t -> rs.size }
        else Generator.Round.groupBy(identity).map { case (t, ts) => t -> ts.size }
      rec.e2e("op_mean_ms") = (weights.map { case (t, w) =>
        w * byTemplate.getOrElse(t, 0.0) }.sum / weights.values.sum.max(1), "ms")
      rec.report("op_p90_ms") = (Stats.pct(ops, 90), "ms")
      byTemplate.toSeq.sortBy(_._1).foreach { case (t, ms) => rec.report(s"$t.p50_ms") = (ms, "ms") }
      if (!mixed) rec.report("rounds") = (rd.size.toDouble / Generator.Round.size, "count")

      val tail = Stats.tailPct(rd.size, Seq(99, 95, 90, 75))
      rec.report("read_p50_ms") = (Stats.median(rd), "ms")
      rec.report(s"read_p${tail.toInt}_ms") = (Stats.pct(rd, tail), "ms")
      rec.report("reads") = (rd.size.toDouble, "count")
      if (mixed) {
        rec.report("write_p50_ms") = (Stats.median(wr), "ms")
        rec.report("write_p90_ms") = (Stats.pct(wr, 90), "ms")
        rec.report("writes") = (wr.size.toDouble, "count")
        rec.report("checkpoints_crossed") = ((wr.size / CheckpointEvery).toDouble, "count")
        // how late the generator handed a read to a connection
        rec.report("client.lag_ms") = (Stats.pct(done.filter(!_.op.write).map(_.lagMs), 99), "ms")
      }

      probe.quiesce()
      Layers.notExercised(rec, Layers.suiteOnly)
      Layers.spark(rec, probe.window(tStart, tEnd + 1), tEnd - tStart,
        Probe.codegenMs - codegen0)
      val ld = done.count(_.op.ldUri.nonEmpty)
      rec.layers("server.describe_cache_hit_ratio") =
        (if (ld == 0) 0.0 else 1.0 - cacheEntries.toDouble / ld, "ratio")
      val grouped = ok.filter(r => r.op.ldUri.isEmpty && !r.op.write)
      rec.layers("server.jobs_per_request") =
        (Stats.mean(grouped.map(r => probe.group(r.op.id).jobs.toDouble)), "count")
      rec.layers("rdf.store_plan_nodes") =
        (server.current.queryExecution.logical.collect { case p => p }.size.toDouble, "count")
      val updateMs = if (trace.enabled) replay(store, done) else 0.0
      if (mixed) {
        // a write's service time beyond its library update time (the
        // untraced run does not replay, so there it is the service time)
        val commits = ok.filter(_.op.write).map(_.serviceMs - updateMs)
        rec.report("sparql.update_ms") = (updateMs, "ms")
        rec.report("server.commit_p50_ms") = (Stats.median(commits), "ms")
        rec.report("server.commit_max_ms") = (commits.maxOption.getOrElse(0.0), "ms")
      }
    } finally server.stop()
    reload()
  }

  /** `load_s`: the served store's build, repeated on a warm JVM after the
    * server has stopped. Each build drops the Catalog's `quads` artifact
    * and writes it again, after a full GC so that no build pays for the
    * garbage of the one before. The first builds are untimed: each of them
    * is faster than the one before, as the JIT compiles the write path.
    * The median of the timed builds is reported, and the last build's jobs.
    */
  private def reload(): Unit = {
    val builds = (1 to LoadWarmBuilds + LoadRepeats).map { _ =>
      Catalog.drop(dir)
      System.gc()
      val t0 = System.currentTimeMillis()
      val n0 = System.nanoTime()
      trace.span("load.quads")(RdfSuite.buildQuads(spark, dir).count())
      ((System.nanoTime() - n0) / 1e9, t0, System.currentTimeMillis())
    }
    probe.quiesce()
    System.err.println(builds.map(b => f"${b._1}%.3f").mkString("[perfbench] quads builds: ", " ", " s"))
    val loadS = Stats.median(builds.drop(LoadWarmBuilds).map(_._1))
    val (_, t0, t1) = builds.last
    rec.e2e("load_s") = (loadS, "s")
    rec.layers("load.quads_s") = (loadS, "s")
    rec.layers("load.quads.jobs") = (probe.window(t0, t1 + 1).jobs.toDouble, "count")
    rec.layers("catalog.stored_bytes") =
      (Suite.dirBytes(new java.io.File(Suite.catalogRoot)).toDouble, "bytes")
  }

  /** The traced run's per-layer split: the same request stream replayed
    * serially through the library calls the server makes, at the same
    * store generations, next to each request's HTTP service time. Returns
    * the median `Update.execute` time.
    */
  private def replay(store0: DataFrame, done: Seq[Result]): Double = {
    val ordered = done.filter(_.ok).sortBy(_.op.dueMs)
    val budgetEnd = System.currentTimeMillis() + ReplayBudgetMs
    var st = store0
    val parse, translate, results, update, overhead = Seq.newBuilder[Double]
    var translateJobs = 0L
    var nReads = 0
    ordered.iterator.takeWhile(_ => System.currentTimeMillis() < budgetEnd).foreach { r =>
      val op = r.op
      trace.span(s"replay.${op.template}", op.id) {
        if (op.write) {
          val text = op.sparql.getOrElse(Generator.asInsertData(op.ntBody.get))
          val (ms, st2) = timed(trace.span("sparql.update")(Update.execute(spark, st, text)))
          st = st2
          update += ms
        } else {
          val text = op.sparql.getOrElse(s"DESCRIBE <${op.ldUri.get}>")
          val (pMs, q) = timed(trace.span("sparql.parse")(Parser.parse(spark, text)))
          val t0 = System.currentTimeMillis()
          val (tMs, out) = timed(trace.span("sparql.translate")(q.form match {
            case Parser.SelectForm => Left(Parser.select(spark, st, text))
            case Parser.AskForm => Right(Parser.ask(spark, st, text).toString)
            case Parser.ConstructForm => Left(Parser.construct(spark, st, text))
            case Parser.DescribeForm => Left(Parser.describe(spark, st, text))
          }))
          val t1 = System.currentTimeMillis()
          val (rMs, _) = timed(trace.span("sparql.results")(out match {
            case Left(df) if q.form == Parser.SelectForm => Results.toJson(df)
            case Left(df) => df.select(NTriples.termToString(col("s")),
              NTriples.termToString(col("p")), NTriples.termToString(col("o")))
              .collect().length.toString
            case Right(b) => b
          }))
          probe.quiesce(2000L)
          translateJobs += probe.window(t0, t1 + 1).jobs
          nReads += 1
          parse += pMs; translate += tMs - pMs; results += rMs
          overhead += r.serviceMs - tMs - rMs
        }
      }
    }
    rec.layers("sparql.parse_ms") = (Stats.median(parse.result()), "ms")
    rec.layers("sparql.translate_ms") = (Stats.median(translate.result()), "ms")
    rec.layers("sparql.translate_jobs") =
      (if (nReads == 0) 0.0 else translateJobs.toDouble / nReads, "count")
    rec.layers("sparql.results_ms") = (Stats.median(results.result()), "ms")
    rec.layers("server.overhead_ms") = (Stats.median(overhead.result()), "ms")
    Stats.median(update.result())
  }

  private def timed[A](body: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val a = body
    ((System.nanoTime() - t0) / 1e6, a)
  }
}

object Endpoint {
  val G = "http://g/"
  /** The writer's IRI prefix: no read template matches it. */
  val W = "http://perfbench.invalid/w/"
  /** The server checkpoints its change log every 16th commit. */
  val CheckpointEvery = 16
  val ReplayBudgetMs = 12000L
  /** Rounds of `endpoint_read` per run: one per this many `--seconds`,
    * about the time a round takes on four cores. A fixed count, not a
    * deadline, keeps a slower host from timing fewer, earlier rounds.
    */
  val RoundSeconds = 5
  /** Untimed rounds before the measured ones. */
  val WarmRounds = 1
  /** Builds of the served store behind `load_s`, after untimed ones. */
  val LoadRepeats = 3
  val LoadWarmBuilds = 1
  val RequestTimeoutMs = 60000

  /** One request of the generated stream. Reads carry a SPARQL query or a
    * `/ld` IRI; writes carry a SPARQL update or an N-Triples body.
    */
  final case class Op(id: String, dueMs: Long, template: String, write: Boolean,
                      sparql: Option[String] = None, ldUri: Option[String] = None,
                      ntBody: Option[String] = None, key: String = "",
                      adds: Set[String] = Set.empty, removes: Set[String] = Set.empty)

  final case class Result(op: Op, lagMs: Double, latencyMs: Double,
                          serviceMs: Double, ok: Boolean, error: String)

  /** Answers of every read template over the initial store, computed once
    * with plain DataFrame operations (not through the SPARQL layer).
    */
  final case class Expected(point: Map[String, Set[String]],
                            describe: Map[String, Set[String]],
                            group: Map[String, Map[String, Long]],
                            path: Map[String, Set[String]],
                            segment: Map[String, String],
                            construct: Map[String, Set[String]])

  object Expected {
    /** One collect of the default graph; every map is built in this JVM. */
    def compute(store: DataFrame): Expected = {
      def lex(c: String) = Term.lex(col(c))
      def nt(c: String) = NTriples.termToString(col(c))
      val rows = store.filter(col("c").isNull)
        .select(lex("s"), lex("p"), lex("o"), nt("s"), nt("p"), nt("o")).collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2),
                   s"${r.getString(3)} ${r.getString(4)} ${r.getString(5)} ."))
      val keys = (Generator.customers.map(Generator.cust) ++
        Generator.orders.map(Generator.ord)).toSet
      val point = rows.filter(t => keys(t._1)).groupBy(_._1)
        .map { case (k, ts) => k -> ts.map(t => s"${t._2}\t${t._3}").toSet }
      val describe = rows.flatMap(t => Seq(t._1, t._3).filter(keys).distinct.map(_ -> t._4))
        .groupBy(_._1).map { case (k, ls) => k -> ls.map(_._2).toSet }
      def pred(p: String) = rows.filter(_._2 == G + p)
      val segment = pred("segment").map(t => t._1 -> t._3).toMap
      val loc = pred("locatedIn").map(t => t._1 -> t._3).toMap
      val group = pred("by").flatMap(t => for {
          seg <- segment.get(t._3); n <- loc.get(t._3) } yield (seg, n))
        .groupBy(_._1).map { case (seg, sn) =>
          seg -> sn.groupBy(_._2).map { case (n, xs) => n -> xs.length.toLong } }
      val path = loc.keys.filter(_.startsWith(G + "c")).map(c =>
        c -> Iterator.iterate(Option(c))(_.flatMap(loc.get)).drop(1)
          .takeWhile(_.isDefined).map(_.get).toSet).toMap
      val construct = pred("name").flatMap(t => loc.get(t._1).map(_ -> t._4))
        .groupBy(_._1).map { case (n, ls) => n -> ls.map(_._2).toSet }
      Expected(point, describe, group, path, segment, construct)
    }
  }

  /** The seeded request generator. The template mix, the key ranges and
    * the Zipf skew are fixed here; the seed only draws the stream.
    *
    * Those three are assumptions of this benchmark, not measurements: no
    * request trace of this server and no published mix backs the shares,
    * the exponent or the 64-key domains. They set the weights of the
    * mix-weighted `op_mean_ms`, so a change to them changes the figure.
    */
  object Generator {
    val customers: Seq[Int] = 0 until 64
    val orders: Seq[Int] = 0 until 64
    val nations: Seq[Int] = 0 until 25
    val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    val ZipfS = 1.1
    /** The read mix: one round of `endpoint_read`, and the template shares
      * of `endpoint_mixed`'s read stream. A round has one of each heavy
      * template, so every round times every template.
      */
    val ReadMix: Seq[(String, Int)] = Seq("point_customer" -> 4, "point_order" -> 4,
      "ask" -> 2, "describe" -> 4, "group_join" -> 1, "path" -> 1, "construct" -> 1)
    val Round: Seq[String] = ReadMix.flatMap { case (t, n) => Seq.fill(n)(t) }
    /** Offered read rate of `endpoint_mixed`, requests per second: about
      * half of what the server sustains on four cores.
      */
    val ReadRate = 3.0
    /** Offered write rate of `endpoint_mixed`, and its floor: every run
      * crosses at least one change-log checkpoint.
      */
    val WriteRate = 1.25
    val MinWrites = CheckpointEvery + 4

    def cust(k: Int) = s"${G}c$k"
    def ord(k: Int) = s"${G}o$k"
    def nat(k: Int) = s"${G}n$k"

    /** `n` ranks from 0 until `domain` whose counts follow a Zipf law of
      * exponent `s` exactly (largest remainder), in a seeded order. A fixed
      * multiset keeps the repeat structure, and with it the DESCRIBE cache
      * hit count, the same in every run.
      */
    private def zipfKeys(n: Int, domain: Int, s: Double, rnd: scala.util.Random): Seq[Int] = {
      val w = (1 to domain).map(r => 1.0 / math.pow(r, s))
      val exact = w.map(_ / w.sum * n)
      val base = exact.map(math.floor(_).toInt)
      val extra = exact.zipWithIndex.sortBy { case (x, i) => (-(x - math.floor(x)), i) }
        .take(n - base.sum).map(_._2).toSet
      val counts = base.zipWithIndex.map { case (c, i) => c + (if (extra(i)) 1 else 0) }
      rnd.shuffle(counts.zipWithIndex.flatMap { case (c, r) => Seq.fill(c)(r) })
    }

    /** `n` picks whose shares match `mix` exactly, in a seeded order. */
    private def exactMix[A](n: Int, mix: Seq[(A, Int)], rnd: scala.util.Random): Seq[A] = {
      val total = mix.map(_._2).sum
      val exact = mix.map { case (a, w) => (a, w.toDouble * n / total) }
      val base = exact.map { case (a, x) => (a, math.floor(x).toInt) }
      val extra = exact.zipWithIndex.sortBy { case ((_, x), i) => (-(x - math.floor(x)), i) }
        .take(n - base.map(_._2).sum).map(_._2).toSet
      rnd.shuffle(base.zipWithIndex.flatMap { case ((a, c), i) =>
        Seq.fill(c + (if (extra(i)) 1 else 0))(a) })
    }

    private def pick[A](rnd: scala.util.Random, mix: Seq[(A, Int)]): A = {
      var u = rnd.nextInt(mix.map(_._2).sum)
      mix.find { case (_, w) => u -= w; u < 0 }.get._1
    }

    def read(id: String, due: Long, template: String, c: Int, o: Int, n: Int, seg: String): Op =
      template match {
        case "point_customer" =>
          Op(id, due, template, false, Some(s"SELECT ?p ?o WHERE { <${cust(c)}> ?p ?o }"), key = cust(c))
        case "point_order" =>
          Op(id, due, template, false, Some(s"SELECT ?p ?o WHERE { <${ord(o)}> ?p ?o }"), key = ord(o))
        case "group_join" =>
          Op(id, due, template, false, Some(
            s"SELECT ?n (COUNT(?o) AS ?cnt) WHERE { ?o <${G}by> ?c . " +
              s"""?c <${G}segment> "$seg" . ?c <${G}locatedIn> ?n } GROUP BY ?n"""), key = seg)
        case "path" =>
          Op(id, due, template, false,
            Some(s"SELECT ?x WHERE { <${cust(c)}> <${G}locatedIn>+ ?x }"), key = cust(c))
        case "ask" =>
          Op(id, due, template, false,
            Some(s"""ASK { <${cust(c)}> <${G}segment> "$seg" }"""), key = s"${cust(c)}\t$seg")
        case "construct" =>
          Op(id, due, template, false, Some(
            s"CONSTRUCT { ?c <${G}name> ?nm } WHERE { ?c <${G}locatedIn> <${nat(n)}> . " +
              s"?c <${G}name> ?nm }"), key = nat(n))
      }

    /** A `/ld` DESCRIBE of a key rank: even ranks are customers, odd ranks orders. */
    def describe(id: String, due: Long, rank: Int): Op = {
      val iri = if (rank % 2 == 0) cust(customers(rank / 2)) else ord(orders(rank / 2))
      Op(id, due, "describe", false, ldUri = Some(iri), key = iri)
    }

    /** Reads at `rate` per second over `ms`, evenly spaced. */
    def reads(seed: Long, rate: Double, ms: Long, prefix: String = "r",
              startMs: Long = 0L): Seq[Op] = {
      val rnd = new scala.util.Random(seed * 7919 + prefix.hashCode)
      val n = math.max(1, (rate * ms / 1000.0).toInt)
      val templates = exactMix(n, ReadMix, rnd)
      // each template draws its keys from its own fixed multiset
      val keys = ReadMix.map { case (t, _) =>
        val m = templates.count(_ == t)
        t -> (t match {
          case "point_order" => zipfKeys(m, orders.size, ZipfS, rnd).map(orders)
          case "describe" => zipfKeys(m, 2 * customers.size, ZipfS, rnd)
          case "construct" => exactMix(m, nations.map(_ -> 1), rnd)
          case "group_join" => exactMix(m, segments.indices.map(_ -> 1), rnd)
          case _ => zipfKeys(m, customers.size, ZipfS, rnd).map(customers)
        }).iterator
      }.toMap
      val askSegs = exactMix(templates.count(_ == "ask"), segments.map(_ -> 1), rnd).iterator
      templates.zipWithIndex.map { case (t, i) =>
        val k = keys(t).next()
        val due = startMs + (i * 1000.0 / rate).toLong
        val id = s"pb-$prefix$seed-$i"
        t match {
          case "describe" => describe(id, due, k)
          case "point_order" => read(id, due, t, 0, k, 0, "")
          case "construct" => read(id, due, t, 0, 0, k, "")
          case "group_join" => read(id, due, t, 0, 0, 0, segments(k))
          case "ask" => read(id, due, t, k, 0, 0, askSegs.next())
          case _ => read(id, due, t, k, 0, 0, "")
        }
      }
    }

    /** `endpoint_read`'s stream: `n` rounds of [[ReadMix]], each
      * in a seeded order. Keys are Zipf-drawn. Of a round's DESCRIBEs, all
      * but the last ask for IRIs not asked before, taken in a Zipf-weighted
      * seeded order; the last, sent at the end of the round, repeats an
      * earlier IRI, Zipf-weighted by rank. So one DESCRIBE in four hits
      * the cache in every run, whatever the seed.
      */
    def rounds(seed: Long, n: Int): Seq[Seq[Op]] = {
      val perRound = Round.count(_ == "describe") - 1
      require(n * perRound <= 2 * customers.size, s"$n rounds ask for more new IRIs than there are")
      val rnd = new scala.util.Random(seed * 7919 + 1)
      def weight(rank: Int) = 1.0 / math.pow(rank + 1, ZipfS)
      def zipf(domain: Int): Int = {
        val w = (0 until domain).map(weight)
        var u = rnd.nextDouble() * w.sum
        w.indexWhere { x => u -= x; u < 0 } match { case -1 => domain - 1; case i => i }
      }
      // weighted sampling without replacement: key u^(1/w), largest first
      val fresh = (0 until 2 * customers.size)
        .map(r => r -> math.pow(rnd.nextDouble(), 1.0 / weight(r))).sortBy(-_._2).map(_._1).iterator
      val seen = scala.collection.mutable.ArrayBuffer.empty[Int]
      (0 until n).map { r =>
        val body = Round.diff(Seq("describe")) // the repeat DESCRIBE goes last
        val ops = rnd.shuffle(body).zipWithIndex.map { case (t, i) =>
          val id = s"pb-r$seed-$r-$i"
          t match {
            case "describe" =>
              val k = fresh.next(); seen += k; describe(id, 0L, k)
            case "point_order" => read(id, 0L, t, 0, orders(zipf(orders.size)), 0, "")
            case "construct" => read(id, 0L, t, 0, 0, nations(rnd.nextInt(nations.size)), "")
            case "group_join" => read(id, 0L, t, 0, 0, 0, segments(rnd.nextInt(segments.size)))
            case "ask" => read(id, 0L, t, customers(zipf(customers.size)), 0, 0,
              segments(rnd.nextInt(segments.size)))
            case _ => read(id, 0L, t, customers(zipf(customers.size)), 0, 0, "")
          }
        }
        val popular = seen.sorted
        ops :+ describe(s"pb-r$seed-$r-${body.size}", 0L, popular(zipf(popular.size)))
      }
    }

    /** The writer's script: each write's effect on the bench-prefix model
      * is decided here, so the model is exact for a sequential writer.
      */
    def writes(seed: Long, ms: Long): Seq[Op] = {
      val rnd = new scala.util.Random(seed * 104729 + 17)
      val n = math.max(MinWrites, (WriteRate * ms / 1000.0).toInt)
      val live = scala.collection.mutable.LinkedHashMap.empty[String, Set[String]]
      (0 until n).map { i =>
        val id = s"pb-w$seed-$i"
        val due = (i * 1000.0 / WriteRate).toLong
        val kind = if (live.size < 2) pick(rnd, Seq("insert_data" -> 1, "rest_post" -> 1))
          else pick(rnd, Seq("insert_data" -> 4, "rest_post" -> 3, "delete_data" -> 2,
                             "delete_where" -> 1))
        val s = s"<${W}s$seed-$i>"
        def triples = Set(s"$s <${W}p> \"v$i\" .", s"$s <${W}q> <${W}t${i % 7}> .",
                          s"$s <${W}r> \"${rnd.nextInt(1000)}\" .")
        kind match {
          case "insert_data" =>
            val ts = triples
            live(s) = ts
            Op(id, due, kind, true, Some(s"INSERT DATA { ${ts.mkString(" ")} }"), adds = ts)
          case "rest_post" =>
            val ts = triples
            live(s) = ts
            Op(id, due, kind, true, ntBody = Some(ts.mkString("\n")), adds = ts)
          case "delete_data" =>
            val (subj, ts) = live.toSeq(rnd.nextInt(live.size))
            live.remove(subj)
            Op(id, due, kind, true, Some(s"DELETE DATA { ${ts.mkString(" ")} }"), removes = ts)
          case _ =>
            val (subj, ts) = live.toSeq(rnd.nextInt(live.size))
            live.remove(subj)
            Op(id, due, kind, true, Some(s"DELETE WHERE { $subj ?p ?o }"), removes = ts)
        }
      }
    }

    /** Bench-prefix triples after every write of the script, in order. */
    def model(writes: Seq[Op]): Set[String] =
      writes.foldLeft(Set.empty[String])((m, w) => m -- w.removes ++ w.adds)

    def asInsertData(nt: String): String = s"INSERT DATA { ${nt.linesIterator.mkString(" ")} }"
  }

  /** The HTTP side: sends requests, times them, checks their answers. */
  final class Client(base: String, mapper: ObjectMapper, expected: Expected, trace: Trace) {
    private def enc(s: String) = URLEncoder.encode(s, UTF_8)

    private def http(method: String, path: String, body: Option[(String, String)])
        : (Int, String) = {
      val c = new URI(base + path).toURL.openConnection().asInstanceOf[HttpURLConnection]
      c.setRequestMethod(method)
      c.setConnectTimeout(RequestTimeoutMs)
      c.setReadTimeout(RequestTimeoutMs)
      body.foreach { case (ctype, b) =>
        c.setDoOutput(true)
        c.setRequestProperty("Content-Type", ctype)
        val os = c.getOutputStream
        os.write(b.getBytes(UTF_8)); os.close()
      }
      val code = c.getResponseCode
      val in = if (code >= 400) c.getErrorStream else c.getInputStream
      val text = if (in == null) "" else try new String(in.readAllBytes(), UTF_8) finally in.close()
      (code, text)
    }

    def counters(key: String): Long =
      mapper.readTree(http("GET", "/counters", None)._2).get(key).asLong()

    /** Send one request; (ok, error) after checking the answer. */
    def send(op: Op): (Boolean, String) =
      try {
        val (code, text) =
          if (op.ldUri.isDefined) http("GET", s"/ld?uri=${enc(op.ldUri.get)}", None)
          else if (op.ntBody.isDefined)
            http("POST", s"/sparql?queryId=${enc(op.id)}", Some("application/n-triples" -> op.ntBody.get))
          else if (op.write)
            http("POST", "/sparql", Some("application/x-www-form-urlencoded" ->
              s"update=${enc(op.sparql.get)}&queryId=${enc(op.id)}"))
          else http("GET", s"/sparql?query=${enc(op.sparql.get)}&queryId=${enc(op.id)}", None)
        if (code / 100 != 2) (false, s"HTTP $code ${text.take(200)}")
        else if (op.write) (true, "")
        else check(op, text)
      } catch {
        case e: java.net.SocketTimeoutException => (false, s"timeout: $e")
        case e: Exception => (false, e.toString)
      }

    private def bindings(text: String): Seq[JsonNode] =
      mapper.readTree(text).get("results").get("bindings").elements().asScala.toSeq

    private def lines(text: String): Set[String] =
      text.linesIterator.map(_.trim).filter(_.nonEmpty).toSet

    private def check(op: Op, text: String): (Boolean, String) = {
      val got: Any = op.template match {
        case "point_customer" | "point_order" =>
          bindings(text).map(b => s"${b.get("p").get("value").asText}\t${b.get("o").get("value").asText}").toSet
        case "describe" | "construct" => lines(text)
        case "group_join" =>
          bindings(text).map(b => b.get("n").get("value").asText -> b.get("cnt").get("value").asText.toLong).toMap
        case "path" => bindings(text).map(_.get("x").get("value").asText).toSet
        case "ask" => mapper.readTree(text).get("boolean").asBoolean()
      }
      val want: Any = op.template match {
        case "point_customer" | "point_order" => expected.point.getOrElse(op.key, Set.empty)
        case "describe" => expected.describe.getOrElse(op.key, Set.empty)
        case "construct" => expected.construct.getOrElse(op.key, Set.empty)
        case "group_join" => expected.group.getOrElse(op.key, Map.empty)
        case "path" => expected.path.getOrElse(op.key, Set.empty)
        case "ask" =>
          val Array(c, seg) = op.key.split("\t")
          expected.segment.get(c).contains(seg)
      }
      if (got == want) (true, "") else (false, s"wrong answer to ${op.sparql.orElse(op.ldUri).get}")
    }

    /** Send the rounds closed loop, one request at a time. A request's
      * latency is its service time, and its `dueMs` the offset at which it
      * was sent.
      */
    def closedLoop(ops: Seq[Op]): Seq[Result] = {
      val t0 = System.nanoTime()
      ops.map { op =>
        val sent = System.nanoTime()
        val (ok, err) = trace.span(s"http.${op.template}", op.id)(send(op))
        val ms = (System.nanoTime() - sent) / 1e6
        Result(op.copy(dueMs = (sent - t0) / 1000000), 0.0, ms, ms, ok, err)
      }
    }

    /** Run the stream open loop: reads on `readers` workers, writes one at
      * a time on their own worker. Latency counts from the due time.
      * Returns the results and whether every worker ended in time; a
      * worker that did not is interrupted and its requests get no result.
      */
    def openLoop(reads: Seq[Op], writes: Seq[Op], readers: Int): (Seq[Result], Boolean) = {
      val out = new ConcurrentLinkedQueue[Result]()
      val pool = Executors.newFixedThreadPool(math.max(1, readers))
      val t0 = System.nanoTime() + 50L * 1000000
      def at(op: Op) = t0 + op.dueMs * 1000000L
      def exec(op: Op, enqueued: Long): Unit = {
        val sent = System.nanoTime()
        val (ok, err) = trace.span(s"http.${op.template}", op.id)(send(op))
        val end = System.nanoTime()
        out.add(Result(op, (enqueued - at(op)) / 1e6, (end - at(op)) / 1e6,
          (end - sent) / 1e6, ok, err))
      }
      val writer = new Thread(() =>
        try writes.foreach { op =>
          sleepUntil(at(op)); exec(op, math.max(System.nanoTime(), at(op)))
        } catch { case _: InterruptedException => }, "perfbench-writer")
      writer.start()
      reads.foreach { op =>
        sleepUntil(at(op))
        val enq = System.nanoTime()
        pool.submit((() => exec(op, enq)): Runnable)
      }
      pool.shutdown()
      val readsDone = pool.awaitTermination(RequestTimeoutMs * 2L, TimeUnit.MILLISECONDS)
      if (!readsDone) pool.shutdownNow()
      writer.join(RequestTimeoutMs * 2L)
      val writesDone = !writer.isAlive
      if (!writesDone) {
        writer.interrupt()
        writer.join(RequestTimeoutMs.toLong)
      }
      (out.asScala.toSeq, readsDone && writesDone && !writer.isAlive)
    }

    /** Every acknowledged write is visible: the store's bench-prefix
      * triples equal the writer's model.
      */
    def checkWrites(model: Set[String]): Boolean = {
      val q = s"""SELECT ?s ?p ?o WHERE { ?s ?p ?o FILTER(STRSTARTS(STR(?s), "$W")) }"""
      val (code, text) = http("GET", s"/sparql?query=${enc(q)}&queryId=pb-final", None)
      code == 200 && {
        def term(b: JsonNode) = b.get("type").asText match {
          case "uri" => s"<${b.get("value").asText}>"
          case _ => "\"" + b.get("value").asText + "\""
        }
        bindings(text).map(b =>
          s"${term(b.get("s"))} ${term(b.get("p"))} ${term(b.get("o"))} .").toSet == model
      }
    }
  }

  private def sleepUntil(nanos: Long): Unit = {
    val d = nanos - System.nanoTime()
    if (d > 0) Thread.sleep(d / 1000000, (d % 1000000).toInt)
  }
}
