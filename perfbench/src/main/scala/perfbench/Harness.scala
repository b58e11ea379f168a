package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.api.{GraftApi, GraphQL, HttpApi}
import graft.enrich.Enrich
import graft.ingest.{GraphIngest, OpExtract, PostsIngest}
import graft.query.{FeedArgs, PostProjections, PostQueries, Where}
import graft.streaming.StreamIngest
import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The system-under-test side of the benchmark: one JVM per run.
  *
  * Usage: Harness <workload> <seed> <seconds> <trace 0|1> <workDir>
  *
  * `workDir/inputs` holds what gen.py generated; the store and outputs
  * go under `workDir`. Control lines go to stdout with an `@@` prefix:
  * `@@ready {...}` when the timed phase may start, `@@timed` when the
  * harness starts its own timed phase, and `@@result {...}` last. */
object Harness {
  private val mapper = new ObjectMapper()
  val baseline36: Seq[String] = Seq(
    "d01_dedup_exact", "d02_token_stats", "d03_lang_id", "d04_quality",
    "d05_jaccard_anchor", "d06_bpeish_count", "d07_rolling_fp",
    "m01_minhash_pairs", "m02_simhash_pairs", "mm01_media_meta",
    "mm02_media_features", "q01_where_algebra", "q02_point_lookup",
    "q03_feed_page", "q04_trending", "q05_trending_tags", "q06_search",
    "q07_semi_join", "q08_anti_join", "q09_left_join",
    "q10_children_count", "q11_leaderboard", "q12_first_event",
    "q13_latest_wins", "q14_distinct", "q15_except", "q16_union",
    "q17_score_agg", "q18_scalar_funcs", "q19_group_topk",
    "q20_related_sample", "q21_inverted_search", "q22_approx_distinct",
    "v01_ann_cosine", "v02_ann_ivf", "v03_cosine_pairs")

  final case class Ctx(spark: SparkSession, seconds: Double, traced: Boolean,
                       work: String, tracer: Tracer,
                       listener: EngineListener) {
    def in(p: String): String = s"$work/inputs/$p"
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, _, secs, trace, work) = args
    val traced = trace == "1"
    val cores = 4
    val b = SparkSession.builder().master(s"local[$cores]")
      .appName(s"perfbench-$workload")
    if (workload == "catalog") {
      // the graft.Bench session contract
      graft.Tables.perfConf.foreach { case (k, v) => b.config(k, v) }
      b.config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.adaptive.enabled", "true")
    } else {
      // graft.tools.Serve's own session config
      b.config("spark.sql.shuffle.partitions", "32")
    }
    b.config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    phase("session")
    val listener = new EngineListener
    val ctx = Ctx(spark, secs.toDouble, traced, work,
      new Tracer(spark, traced, listener), listener)
    val result = workload match {
      case "feed_api" => FeedApi.run(ctx)
      case "catalog" => CatalogRun.run(ctx)
      case w => sys.error(s"unknown workload $w")
    }
    if (traced) ctx.tracer.write(s"$work/spans.jsonl")
    val out = result ++ Seq("rss_peak_mb" -> rssPeakMb,
      "cpu_s" -> processCpuS)
    println("@@result " + Json.obj(out))
    System.out.flush()
    spark.stop()
  }

  // ---- shared helpers ------------------------------------------------

  def rssPeakMb: Double = statusKb("VmHWM") / 1024.0

  private def statusKb(key: String): Double =
    new String(Files.readAllBytes(Paths.get("/proc/self/status")))
      .split("\n").find(_.startsWith(key + ":"))
      .map(_.split("\\s+")(1).toDouble).getOrElse(Double.NaN)

  /** utime + stime of this JVM, from /proc/self/stat (clock ticks). */
  def processCpuS: Double = {
    val s = new String(Files.readAllBytes(Paths.get("/proc/self/stat")))
    val f = s.substring(s.lastIndexOf(')') + 2).split(" ")
    (f(11).toLong + f(12).toLong) / 100.0
  }

  /** Mark a set-up phase boundary; run.py records when it arrived. */
  def phase(name: String): Unit = {
    println(s"@@phase $name")
    System.out.flush()
  }

  def drain(spark: SparkSession): Unit =
    PerfbenchBridge.drain(spark.sparkContext)

  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Tracing overhead in % from paired executions of the same op:
    * (traced ms, untraced ms, untraced ran first). The second execution
    * of a pair runs warmer, so pairs alternate the order and the two
    * orders' median ratios are combined geometrically, which cancels
    * the warm-up factor. */
  def overheadPct(pairs: Seq[(Double, Double, Boolean)]): Double = {
    val byOrder = pairs.groupBy(_._3).values
      .map(g => math.log(median(g.map(p => p._1 / p._2)))).toSeq
    100 * (math.exp(byOrder.sum / byOrder.size) - 1)
  }

  def nowMs(): Double = System.nanoTime() / 1e6

  def readJson(path: String): JsonNode = mapper.readTree(new java.io.File(path))

  def blocks(spark: SparkSession, paths: String*): DataFrame =
    spark.read.schema(graft.domain.Schemas.block).json(paths: _*)

  /** Build the served store from the seeded history blocks: posts
    * merged by StreamIngest into the bucketed layout with its reply
    * index, follows and profiles from the same ops. */
  def buildStore(spark: SparkSession, ctx: Ctx, store: String): Unit = {
    val b = blocks(spark, ctx.in("social/store_blocks.jsonl"))
    ctx.tracer.span("streaming", "mergeBlocksBatch")(
      StreamIngest.mergeBlocksBatch(spark, b, s"$store/posts",
        replyIndexDir = Some(s"$store/reply_index")))
    val ops = OpExtract.ops(b)
    ctx.tracer.span("ingest", "follows")(GraphIngest.follows(ops)
      .write.mode("overwrite").parquet(s"$store/follows"))
    ctx.tracer.span("ingest", "profiles")(GraphIngest.profiles(ops)
      .write.mode("overwrite").parquet(s"$store/profiles"))
  }

  /** One enrichment pass over the built store: the history's votes give
    * the dirty set, flagged posts get stats from the content-RPC
    * snapshot, then mention notifications and channel scores. Returns
    * each step's ms and whether every dirty post came out with its
    * RPC vote count and its flag cleared. */
  def enrich(ctx: Ctx, store: String): (Seq[(String, Double)], Boolean) = {
    val spark = ctx.spark
    def noop(df: DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()
    val ops = OpExtract.ops(blocks(spark, ctx.in("social/store_blocks.jsonl")))
    val rpc = spark.read.schema(graft.domain.Schemas.contentRpc)
      .json(ctx.in("social/content_rpc.jsonl"))
    val stored = spark.read.parquet(s"$store/posts")
    val t0 = nowMs()
    val dirty = PostsIngest.voteDirtySet(ops).cache()
    val enriched = ctx.tracer.span("enrich", "postStats") {
      val e = Enrich.postStats(PostsIngest.flagNeedsStatUpdate(stored, dirty),
        rpc).cache()
      noop(e)
      e
    }
    val t1 = nowMs()
    ctx.tracer.span("enrich", "newNotifications")(noop(Enrich.newNotifications(
      stored, spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        graft.domain.Schemas.notification))))
    val t2 = nowMs()
    ctx.tracer.span("enrich", "channelScores")(noop(Enrich.channelScores(
      stored, spark.read.parquet(s"$store/profiles"))))
    val t3 = nowMs()
    val bad = enriched.join(dirty, Seq("author", "permlink"), "left_semi")
      .join(rpc.select("author", "permlink", "net_votes"),
        Seq("author", "permlink"))
      .filter(coalesce(col("needs_stat_update"), lit(true)) ||
        col("stats.num_votes") =!= col("net_votes")).count()
    val ok = bad == 0 && dirty.count() > 0
    enriched.unpersist()
    dirty.unpersist()
    (Seq("enrich.post_stats_s" -> (t1 - t0) / 1000,
      "enrich.notifications_s" -> (t2 - t1) / 1000,
      "enrich.channel_scores_s" -> (t3 - t2) / 1000), ok)
  }

  /** The API over the store exactly as graft.tools.Serve opens it, with
    * the clock pinned to the end of the generated chain so trending
    * windows are deterministic. */
  def openApi(spark: SparkSession, store: String, now: String): GraftApi =
    new GraftApi(spark, graft.tools.Serve.tables(spark, store),
      now = () => lit(now).cast("timestamp"))

  def stats(prefix: String, c: Counters, ops: Double, wallMs: Double,
            cores: Int = 4): Seq[(String, Double)] = {
    val n = math.max(ops, 1.0)
    Seq(
      "spark.jobs_per_op" -> c.jobs / n,
      "spark.stages_per_op" -> c.stages / n,
      "spark.tasks_per_op" -> c.tasks / n,
      "spark.job_ms_per_op" -> c.jobMs / n,
      "spark.task_cpu_ms_per_op" -> c.taskCpuMs / n,
      "spark.task_run_ms_per_op" -> c.taskRunMs / n,
      "spark.sched_delay_ms_per_op" -> c.schedDelayMs / n,
      "spark.gc_ms_per_op" -> c.gcMs / n,
      "jvm.alloc_mb_per_op" -> c.allocBytes / 1e6 / n,
      "spark.plan_ms_per_op" -> c.planMs / n,
      "spark.shuffle_write_kb_per_op" -> c.shuffleWriteBytes / 1024.0 / n,
      "spark.input_kb_per_op" -> c.inputBytes / 1024.0 / n,
      "spark.files_read_per_op" -> c.filesRead / n,
      "spark.core_util" -> c.taskRunMs / (wallMs * cores),
      "driver.self_ms_per_op" -> math.max(0.0, wallMs - c.jobMs) / n
    ).map { case (k, v) => (if (prefix.isEmpty) k else s"$prefix.$k") -> v }
  }

  /** The listener's counters after the bus has drained, with GC time
    * and bytes allocated taken JVM-wide: in local mode driver and
    * executors share the JVM, and per-task GC time is too coarse to see
    * small ops. */
  def counters(ctx: Ctx): Counters = {
    drain(ctx.spark)
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    ctx.listener.snapshot.copy(
      gcMs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime).sum.toDouble,
      allocBytes = mx.getThreadAllocatedBytes(mx.getAllThreadIds)
        .filter(_ > 0).sum)
  }

  def attach(ctx: Ctx): Unit = {
    ctx.spark.sparkContext.addSparkListener(ctx.listener)
    ctx.spark.listenerManager.register(ctx.listener)
  }

  def detach(ctx: Ctx): Unit = {
    drain(ctx.spark)
    ctx.spark.sparkContext.removeSparkListener(ctx.listener)
    ctx.spark.listenerManager.unregister(ctx.listener)
  }

  final class Http(port: Int) {
    private val client = HttpClient.newHttpClient()
    def post(query: String): (Int, String) = {
      val body = mapper.createObjectNode().put("query", query)
      val r = client.send(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:$port/api/v2/graphql"))
        .header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(
          mapper.writeValueAsString(body))).build(),
        HttpResponse.BodyHandlers.ofString())
      (r.statusCode(), r.body())
    }
  }

  def parse(s: String): JsonNode = mapper.readTree(s)
  def asScala(n: JsonNode): Seq[JsonNode] = n.elements().asScala.toSeq
  def write(path: String, s: String): Unit =
    Files.write(Paths.get(path), s.getBytes("UTF-8"))

  /** Wait for the generator to say stop (one line on stdin). */
  def awaitStop(): Unit = scala.io.StdIn.readLine()
}

/** feed_api: the GraphQL front door over the seeded store. The harness
  * serves HTTP and run.py drives the closed loop; a traced run then
  * replays a fixed set of requests from one thread. */
object FeedApi {
  import Harness._

  final case class Req(field: String, args: JsonNode, query: String)

  def run(ctx: Ctx): Seq[(String, Any)] = {
    val spark = ctx.spark
    val store = s"${ctx.work}/store"
    // set-up: build the store, enrich it, open the API; traced runs
    // record its spans and counters too
    if (ctx.traced) attach(ctx)
    val s0 = nowMs()
    ctx.tracer.op("streaming", "store")(buildStore(spark, ctx, store))
    val storeS = (nowMs() - s0) / 1000
    phase("store")
    // the enrichment pass is measured and checked in traced runs only:
    // the API serves the merged store, so it is not on the timed path
    val (enrichMs, enrichOk) =
      if (ctx.traced) ctx.tracer.op("enrich", "pass")(enrich(ctx, store))
      else (Nil, true)
    val setupMs = nowMs() - s0
    phase("enrich")
    val setupCounters = if (ctx.traced) counters(ctx) else Counters()
    val setupSelf = if (ctx.traced) ctx.tracer.selfMsByLayer() else Map.empty
    if (ctx.traced) detach(ctx)
    val meta = readJson(ctx.in("social/meta.json"))
    val api = openApi(spark, store, meta.get("now").asText())
    val server = new HttpApi(api).start()
    val reqs = readJson(ctx.in("social/requests.json"))
    val pool = asScala(reqs.get("pool")).map(r =>
      Req(r.get("field").asText(), r.get("args"), r.get("query").asText()))
    val order = asScala(reqs.get("order")).map(_.asInt())
    // golden answers, in process; this pass is also the warm-up
    val goldens = pool.map(r => api.executeJson(r.query))
    phase("goldens")
    val goldenErrors = goldens.count(g => parse(g).has("errors"))
    write(s"${ctx.work}/goldens.json", goldens.map(Json.str)
      .mkString("[", ",", "]"))
    // the closed loop, driven by run.py, until it says stop
    val cpu0 = processCpuS
    println("@@ready " + Json.obj(Seq("port" -> server.boundPort,
      "goldens" -> s"${ctx.work}/goldens.json")))
    System.out.flush()
    awaitStop()
    val loop = Seq("server_cpu_s" -> (processCpuS - cpu0))
    val out =
      if (!ctx.traced) loop
      else loop ++ traced(ctx, api, server.boundPort, pool, order, goldens, meta)
    server.stop()
    val storeFiles = Option(new java.io.File(s"$store/posts").listFiles)
      .toSeq.flatten.flatMap(m => Option(m.listFiles).toSeq.flatten)
      .flatMap(b => Option(b.listFiles).toSeq.flatten)
      .count(_.getName.endsWith(".parquet"))
    out ++ enrichMs ++ Seq("golden_errors" -> goldenErrors,
      "enrich_failed" -> (if (enrichOk) 0 else 1),
      "streaming.store_build_s" -> storeS,
      "state.store_files" -> storeFiles) ++
      (if (!ctx.traced) Nil
       else Seq("setup.layer_self_ms" -> setupSelf) ++
         stats("setup", setupCounters, 1, setupMs))
  }

  /** The traced replay: the first `n` requests of each field in the
    * seeded order, whatever --seconds is. Every field gets the same
    * number of samples, so per-op figures weight the fields equally. */
  def replay(pool: Seq[Req], order: Seq[Int], n: Int): Seq[Int] = {
    val seen = mutable.Map[String, Int]().withDefaultValue(0)
    order.filter { k =>
      val f = pool(k).field
      seen(f) += 1
      seen(f) <= n
    }
  }

  private def queryDirect(t: graft.api.ApiTables, r: Req, now: String): Unit = {
    def tag = FeedArgs(byTag = Some(Where(eq = Some(r.args.get("tag").asText()))),
      limit = 20)
    def a(k: String) = r.args.get(k).asText()
    r.field match {
      case "socialFeed" => PostQueries.socialFeed(t.posts, t.follows, tag).collect()
      case "trendingFeed" =>
        PostQueries.trendingFeed(t.posts, t.follows, tag).collect()
      case "children" =>
        PostQueries.socialPost(t.posts, a("author"), a("permlink"),
          t.keyBuckets).collect()
        PostQueries.children(t.posts, a("author"), a("permlink"), 10).collect()
      case "searchFeed" => PostQueries.searchFeed(t.posts, t.follows,
        FeedArgs(limit = 20), a("terms")).collect()
      case "relatedFeed" => PostQueries.relatedFeed(t.posts, t.follows,
        FeedArgs(), a("author"), a("permlink")).collect()
      case "profile" => PostProjections.profileView(t.profiles)
        .filter(col("username") === a("id")).collect()
      case "trendingTags" => PostQueries.trendingTags(t.posts,
        lit(now).cast("timestamp"), 10).collect()
    }
  }

  /** One thread, request by request: untraced in-process execute and
    * one-client HTTP, then the traced pass (parse, execute, the
    * PostQueries call alone) with the bench listeners attached. Within
    * each field the two passes alternate which runs first. */
  private def traced(ctx: Ctx, api: GraftApi, port: Int, pool: Seq[Req],
                     order: Seq[Int], goldens: Seq[String],
                     meta: JsonNode): Seq[(String, Any)] = {
    val spark = ctx.spark
    val http = new Http(port)
    val now = meta.get("now").asText()
    val tables = graft.tools.Serve.tables(spark, s"${ctx.work}/store")
    // field, exec ms, http ms, untraced pass ran first
    val plain = mutable.ArrayBuffer[(String, Double, Double, Boolean)]()
    val tracedExec = mutable.ArrayBuffer[(String, Double)]()
    val parseMs = mutable.ArrayBuffer[Double]()
    val queryMs = mutable.ArrayBuffer[(String, Double)]()
    val filesByField = mutable.ArrayBuffer[(String, Double)]()
    var total = Counters()
    var execWall = 0.0
    var failed = 0
    val firstOp = ctx.tracer.opCount
    val perField = readJson(s"${sys.props("perfbench.dir")}/config.json")
      .get("workloads").get("feed_api").get("traced_per_field").asInt()
    val seq = replay(pool, order, perField)
    val turn = mutable.Map[String, Int]().withDefaultValue(0)
    seq.foreach { k =>
      val r = pool(k)
      val golden = goldens(k)
      val plainFirst = turn(r.field) % 2 == 0
      turn(r.field) += 1
      def plainPass(): Unit = {
        def exec() = { val t = nowMs(); (api.executeJson(r.query), nowMs() - t) }
        def viaHttp() = { val t = nowMs(); (http.post(r.query), nowMs() - t) }
        val ((ans, e), ((code, body), h)) =
          if (plainFirst) { val a = exec(); (a, viaHttp()) }
          else { val b = viaHttp(); (exec(), b) }
        if (ans != golden || code != 200 || body != golden) failed += 1
        plain += ((r.field, e, h, plainFirst))
      }
      def tracedPass(): Unit = {
        attach(ctx)
        ctx.tracer.op("api", r.field) {
          val p0 = nowMs()
          ctx.tracer.span("api", "parseDocument")(GraphQL.parseDocument(r.query))
          parseMs += nowMs() - p0
          val c0 = counters(ctx)
          val e0 = nowMs()
          val got = ctx.tracer.span("api", "execute")(api.executeJson(r.query))
          val e1 = nowMs()
          val c1 = counters(ctx)
          if (got != golden) failed += 1
          tracedExec += ((r.field, e1 - e0))
          total = total + (c1 - c0)
          filesByField += ((r.field, (c1 - c0).filesRead.toDouble))
          execWall += e1 - e0
          val q0 = nowMs()
          ctx.tracer.span("query", r.field)(queryDirect(tables, r, now))
          queryMs += ((r.field, nowMs() - q0))
        }
        detach(ctx)
      }
      // one untimed execution first, so neither timed pass is the
      // first run of the request's plan and files; see overheadPct
      api.executeJson(r.query)
      if (plainFirst) { plainPass(); tracedPass() }
      else { tracedPass(); plainPass() }
    }
    val fields = pool.map(_.field).distinct.sorted
    def byField(xs: Seq[(String, Double)]) = fields.map(f =>
      f -> median(xs.filter(_._1 == f).map(_._2))).toMap
    // HTTP minus in-process execute of the same request, pooled over
    // all fields: the HTTP path costs a few ms, under the tens of ms of
    // one field's Spark noise. The second of the two runs warmer, so
    // the two orders' medians are averaged.
    val httpByOrder = plain.groupBy(_._4).values
      .map(g => median(g.map(p => p._3 - p._2).toSeq))
    val httpOverhead = httpByOrder.sum / httpByOrder.size
    val overhead = overheadPct(tracedExec.indices.map(k =>
      (tracedExec(k)._2, plain(k)._2, plain(k)._4)))
    val selfMs = ctx.tracer.selfMsByLayer(_ > firstOp)
    Seq("attempted" -> seq.size, "failed" -> failed,
      "ops" -> tracedExec.size,
      "layer_self_ms" -> selfMs,
      "trace.overhead_pct" -> overhead,
      "api.parse_ms" -> median(parseMs.toSeq),
      "api.execute_ms" -> byField(plain.map(p => (p._1, p._2)).toSeq),
      "api.http_one_client_ms" -> byField(plain.map(p => (p._1, p._3)).toSeq),
      "api.http_overhead_ms" -> httpOverhead,
      "api.samples_ms" -> fields.map(f => f -> plain.indices
        .filter(plain(_)._1 == f).map { k =>
          val (_, e, h, first) = plain(k)
          f"exec=$e%.1f http=$h%.1f traced=${tracedExec(k)._2}%.1f " +
            (if (first) "untraced-first" else "traced-first")
        }).toMap,
      "query.page_ms" -> byField(queryMs.toSeq),
      "state.files_read_per_req" -> byField(filesByField.toSeq)) ++
      stats("", total, tracedExec.size, execWall)
  }
}
