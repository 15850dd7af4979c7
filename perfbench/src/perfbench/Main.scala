package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.canon.Canon
import graft.conf.ZenoConf
import graft.extract.{Extract, PageInput}
import graft.gen.Corpus
import graft.loop.CrawlLoop
import graft.tools.FsUtil

/** One benchmark run in one JVM: builds the workload's corpus,
  * sets the crawl up, times a fixed number of waves and writes everything
  * it measured, plus the outputs' fingerprints, to `<out>/result.json`.
  * `perfbench/run.py` turns that file into metrics and checks it.
  *
  * args: --workload W --seed N --seconds S --trace 0|1 --cores C --out DIR
  */
object Main {

  /** A crawl workload: corpus shape, seed density and timed waves per
    * episode. */
  final case class Workload(name: String, pages: Long, hosts: Int, megaShare: Double,
                            bodyBytes: Int, seedStep: Int, waves: Int) {
    def spec(seed: Long): Corpus.Spec =
      Corpus.Spec(nPages = pages, nHosts = hosts, megaShare = megaShare,
        bodyBytes = bodyBytes, seed = seed)
  }

  val workloads: Map[String, Workload] = Seq(
    // no mega-host: every host holds 50 pages, so no host reaches the
    // 150-claim budget and each wave claims the whole frontier
    Workload("bfs-wide", pages = 3000, hosts = 60, megaShare = 0.0, bodyBytes = 16000,
      seedStep = 2, waves = 1),
    // every page a seed: 326 per tail host and 2,100 on the mega-host, so
    // every host is held to its 150 claims in the warm-up and timed waves
    Workload("frontier-deep", pages = 7000, hosts = 16, megaShare = 0.3, bodyBytes = 1000,
      seedStep = 1, waves = 1)
  ).map(w => w.name -> w).toMap

  /** The campaign's crawl conf: 150 claims per host per wave. */
  val conf: ZenoConf = ZenoConf(maxHops = 4, wavePeriodSeconds = 3.0)

  /** Untimed waves before the timed ones. The first wave of a crawl loop
    * takes the resume-guard path (seen checked at claim, no Bloom probe)
    * and pays the JIT and codegen warm-up; the timed waves are steady
    * state. */
  val warmWaves = 1

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wl = workloads.getOrElse(opt("workload"),
      sys.error(s"unknown workload ${opt("workload")}"))

    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val cores = opt("cores").toInt
    val out = Paths.get(opt("out")).toAbsolutePath
    val runId = s"${wl.name}-$seed-${ProcessHandle.current.pid}"
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val result = scala.collection.mutable.LinkedHashMap[String, Any](
      "workload" -> wl.name, "seed" -> seed, "cores" -> cores, "traced" -> traced,
      "run_id" -> runId)

    // co-tenant window stamp (traced runs only: it costs ~4 s): taken
    // before the session exists, outside every timed interval, and
    // excluded from setup_s
    val probeT0 = System.nanoTime()
    if (traced) {
      val (ser, par) = graft.Bench.windowProbe(cores)
      result("window") = Map(
        "serial_over_model" -> ser / graft.Bench.ProbeSerModel,
        "parallel_over_model" -> par / graft.Bench.ProbeParModel)
      System.gc()
    }
    val probeS = (System.nanoTime() - probeT0) / 1e9

    val spark = session(cores, out)
    val sessionReadyS = (System.currentTimeMillis() - jvmStartMs) / 1e3 - probeS
    val spans = new Spans(runId)
    val recorder = if (traced) Some(new SessionRecorder(spark).install()) else None
    val runSpan = spans.begin()
    val run = runSpan._1

    // corpus: built in every run, never reused from an earlier one, so
    // every run starts the crawl from the same JIT state
    val spec = wl.spec(seed)
    val corpusDir = out.resolve("corpus")
    val genT0 = System.nanoTime()
    Corpus.write(spark, corpusDir.toString, spec)
    val genS = (System.nanoTime() - genT0) / 1e9
    val robots = Corpus.robotsMap(spec)
    val seeds = (0L until spec.nPages by wl.seedStep.toLong).map { i =>
      val (h, j) = Corpus.locate(i, spec)
      Corpus.pageUrl(h, j)
    }

    val cpu = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val setupTimes = ArrayBuffer.empty[Double]
    val warmupTimes = ArrayBuffer.empty[Double]
    val waves = ArrayBuffer.empty[Map[String, Any]]
    val episodes = ArrayBuffer.empty[Map[String, Any]]
    var failure: Option[String] = None
    var timedS = 0.0

    // whole episodes until the timed window reaches --seconds: a fresh
    // store and its set-up, `warmWaves` untimed steps, then wl.waves timed
    // steps
    var episode = 0
    try while (episode == 0 || timedS < seconds) {
      episode += 1
      val work = out.resolve(s"store-$episode")
      val t0 = System.nanoTime()
      val initSpan = spans.begin()
      val loop = new CrawlLoop(spark, conf, work.toString, corpusDir.toString, robots)
      loop.init(seeds)
      spans.end(initSpan, "loop.init", run, Map("episode" -> episode))
      setupTimes += (System.nanoTime() - t0) / 1e9
      val counters = ArrayBuffer.empty[graft.model.CounterRow]
      def wave(timed: Boolean): Double = {
        val span = spans.begin()
        val t0 = System.nanoTime()
        val c = loop.step().getOrElse(sys.error("frontier drained before the last wave"))
        val wallS = (System.nanoTime() - t0) / 1e9
        val snap = loop.store.latest.get
        spans.end(span, if (timed) s"loop.step[${c.wave}]" else s"loop.warmup[${c.wave}]", run,
          Map("episode" -> episode, "wave" -> c.wave))
        counters += c
        waves += Map("episode" -> episode, "wave" -> c.wave, "timed" -> timed,
          "wall_s" -> wallS, "span" -> span._1, "counters" -> counterMap(c),
          "files" -> Map("frontier" -> snap.frontier.length,
            "frontier_deletes" -> snap.frontierDeletes.length, "seen" -> snap.seen.length,
            "seed_counts" -> snap.seedCounts.length, "bloom" -> snap.bloom.length))
        wallS
      }
      warmupTimes += (1 to warmWaves).map(_ => wave(timed = false)).sum
      val cpu0 = cpu.getProcessCpuTime
      val steal0 = stealTicks()
      val w0 = System.nanoTime()
      (1 to wl.waves).foreach(_ => wave(timed = true))
      val awaitSpan = spans.begin()
      val ta = System.nanoTime()
      loop.awaitBackgroundWork()
      val awaitS = (System.nanoTime() - ta) / 1e9
      spans.end(awaitSpan, "loop.await_bg", run, Map("episode" -> episode))
      val wallS = (System.nanoTime() - w0) / 1e9
      val cpuS = (cpu.getProcessCpuTime - cpu0) / 1e9
      timedS += wallS
      // outside the timed window: what the crawl left behind
      val history = loop.store.history
      episodes += Map("episode" -> episode, "wall_s" -> wallS, "cpu_s" -> cpuS,
        "steal_s" -> (stealTicks() - steal0) / 100.0,
        "await_bg_s" -> awaitS,
        "work" -> counters.drop(warmWaves).map(c => c.claimed + c.queued + c.deduped).sum,
        "store_bytes" -> treeBytes(work),
        "compactions" -> history.count(_.isCompaction),
        "valve_dirs" -> listDirs(work.resolve("data")).count(_.matches("w\\d{5}-frontier-compact")),
        "check" -> checkStore(spark, loop, work))
      FsUtil.deleteRecursively(work.toString)
    } catch {
      case e: Throwable => failure = Some(e.toString); e.printStackTrace()
    }
    // traced runs only, after the crawl: the functions layer over the
    // corpus pages
    if (traced && failure.isEmpty) result("functions") = functions(spark, corpusDir, spans, run)
    spans.end(runSpan, "run", 0, Map("workload" -> wl.name, "seed" -> seed))

    result("session_ready_s") = sessionReadyS
    result("run_span_s") = (System.currentTimeMillis() - runSpan._2) / 1e3
    result("gen_s") = genS
    result("setup_s") = setupTimes.toList
    result("warmup_s") = warmupTimes.toList
    result("waves") = waves.toList
    result("episodes") = episodes.toList
    result("failure") = failure.getOrElse("")

    recorder.foreach { r =>
      r.finish()
      result("open_jobs_after_drain") = r.openJobs
      result("jobs") = r.jobRecords
      result("executions") = r.execRecords
      result("micro") = micro(spec)
    }
    result("spans") = spans.all
    spark.stop()
    result("peak_rss_kb") = peakRssKb()
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    Files.write(out.resolve("result.json"), json.writeValueAsBytes(result))
  }

  def session(cores: Int, out: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      // the campaign child's crawl settings (graft.tools.CrawlBenchChild)
      .config("spark.sql.shuffle.partitions", cores * 4)
      .config("spark.sql.maxConcurrentOutputFileWriters", "8")
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.sql.parquet.columnarReaderBatchSize", "4096")
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.sql.parquet.compression.codec", "snappy")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.ui.enabled", "false")
      // everything the session writes stays inside the run directory
      .config("spark.local.dir", out.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", out.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", out.resolve("hadoop-tmp").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def counterMap(c: graft.model.CounterRow): Map[String, Any] = Map(
    "claimed" -> c.claimed, "fetched" -> c.fetched, "failed" -> c.failed,
    "deduped" -> c.deduped, "excluded" -> c.excluded, "queued" -> c.queued,
    "seeds_finished" -> c.seeds_finished, "discarded" -> c.discarded)

  /** Order-insensitive fingerprint of a DataFrame: row count plus the sum
    * of a 64-bit hash of every row, as a decimal so the sum cannot wrap.
    * Also returns the number of distinct values of `key`.
    */
  def fingerprint(df: DataFrame, key: String): (Long, String, Long) = {
    val cols = df.columns.sorted.map(col)
    val r = df.agg(count(lit(1)), sum(xxhash64(cols: _*).cast("decimal(38,0)")),
      countDistinct(col(key))).head()
    (r.getLong(0), s"${r.getLong(0)}:${Option(r.get(1)).getOrElse(0)}", r.getLong(2))
  }

  /** Fingerprints of the final seen set and frontier view, plus the
    * invariants: claims per host per wave (from the written logs) and
    * duplicate frontier `url_canon` keys.
    */
  def checkStore(spark: SparkSession, loop: CrawlLoop, work: Path): Map[String, Any] = {
    val frontier = loop.frontier
    val seenSet = loop.seen.groupBy(col("url_hash")).agg(max(col("kind")).as("kind"))
    val logs = listDirs(work.resolve("data")).filter(_.matches("w\\d{5}-log"))
      .map(d => work.resolve("data").resolve(d).toString)
    val maxClaims = spark.read.parquet(logs: _*)
      .filter(col("row_type") === "claimed")
      .groupBy(regexp_extract(input_file_name(), "w\\d{5}-log", 0).as("wave"), col("host"))
      .count()
      .agg(max(col("count"))).head()
    val (seenRows, seenFp, _) = fingerprint(seenSet, "url_hash")
    val (frontierRows, frontierFp, frontierKeys) = fingerprint(frontier, "url_canon")
    Map(
      "seen_fp" -> seenFp, "frontier_fp" -> frontierFp,
      "seen_rows" -> seenRows, "frontier_rows" -> frontierRows,
      "frontier_dup_keys" -> (frontierRows - frontierKeys),
      "max_claims_per_host_wave" -> (if (maxClaims.isNullAt(0)) 0L else maxClaims.getLong(0)),
      "budget_per_host_wave" -> conf.perHostWaveBudget)
  }

  /** Embedding width of the vectors the functions layer hashes from text. */
  val EmbDim = 16

  /** Times `graft.functions` operators over an eighth of the corpus `pages`
    * (chosen by URL hash), with each page's body as a document's text and a
    * vector hashed from it as its embedding. Each operator runs once
    * untimed, then once timed into the noop sink (the whole plan runs,
    * nothing is kept); reports that time and the output row count of each.
    */
  def functions(spark: SparkSession, corpusDir: Path, spans: Spans,
                parent: Int): Map[String, Any] = {
    import graft.functions.{Dedup, Similarity, TextAnalysis}
    val docs = spark.read.parquet(corpusDir.resolve("pages").toString)
      .filter(pmod(xxhash64(col("url")), lit(8L)) === 0)
      .select(xxhash64(col("url")).as("doc_id"), col("html").cast("string").as("text"))
    val emb = docs.select(col("doc_id").as("vec_id"),
      array((0 until EmbDim).map(k =>
        (xxhash64(lit(k), col("text")) % 1000).cast("double") / 1000.0): _*).as("embedding"))
    val ops: Seq[(String, () => DataFrame)] = Seq(
      "dedup_exact" -> (() => Dedup.exact(docs)),
      "dedup_minhash" -> (() => Dedup.minhashSignatures(docs, k = 16)),
      "dedup_simhash" -> (() => Dedup.simhash(docs)),
      "dedup_jaccard_capped" -> (() => Dedup.ngramJaccardPairs(docs, n = 2, maxShingleFreq = 50)),
      "text_quality" -> (() => TextAnalysis.qualityFeatures(docs)),
      "lang_id" -> (() => TextAnalysis.langId(docs)),
      "token_counts" -> (() => TextAnalysis.withTokenCounts(docs)),
      "ann_lsh_buckets" -> (() => Similarity.cosineLshBuckets(emb, nBits = 12, dim = EmbDim)))
    scala.collection.immutable.ListMap(ops.map { case (name, op) =>
      val runs = (0 to 1).map { k =>
        val obs = new org.apache.spark.sql.Observation(s"$name-$k")
        val span = spans.begin()
        val t0 = System.nanoTime()
        op().observe(obs, count(lit(1)).as("rows")).write.format("noop").mode("overwrite").save()
        val s = (System.nanoTime() - t0) / 1e9
        spans.end(span, s"functions.$name", parent, Map("rep" -> k, "timed" -> (k > 0)))
        (s, obs.get("rows").asInstanceOf[Long])
      }
      name -> Map("s" -> runs(1)._1, "rows" -> runs.head._2)
    }: _*)
  }

  /** Single-thread timings of the extract and canon layers, after JIT
    * warm-up, over the workload's own pages (Corpus.pageFor).
    */
  def micro(spec: Corpus.Spec): Map[String, Any] = {
    val n = math.min(spec.nPages, math.max(200L, 4000000L / math.max(1, spec.bodyBytes)))
    val pages = (0L until n).map { i =>
      val (p, m) = Corpus.pageFor(i, spec)
      PageInput(url = p.url, contentType = m.content_type, server = m.server,
        linkHeader = m.link_header, bodyBytes = p.html)
    }
    def links(p: PageInput): Seq[String] = {
      val r = Extract.page(p, conf)
      r.outlinks ++ r.assets ++ r.atImports
    }
    val pageLinks = pages.map(p => p.url -> links(p))
    val nLinks = pageLinks.map(_._2.length).sum
    var sink = 0L
    def extractPass(): Long = {
      val t0 = System.nanoTime()
      pages.foreach(p => sink += links(p).length)
      System.nanoTime() - t0
    }
    def canonPass(): Long = {
      val t0 = System.nanoTime()
      pageLinks.foreach { case (parent, ls) =>
        ls.foreach(l => sink += (if (Canon.canonicalize(l, Some(parent), conf).isRight) 1 else 0))
      }
      System.nanoTime() - t0
    }
    (1 to 3).foreach { _ => extractPass(); canonPass() } // JIT warm-up
    val ex = (1 to 5).map(_ => extractPass()).sorted
    val ca = (1 to 5).map(_ => canonPass()).sorted
    Map("pages" -> n, "links" -> nLinks,
      "extract_page_us" -> ex(2) / 1e3 / n,
      "canonicalize_ns" -> ca(2).toDouble / math.max(1, nLinks),
      "links_per_page" -> nLinks.toDouble / n,
      "sink" -> sink) // reported so the JIT cannot drop the timed work
  }

  /** Machine-wide CPU time stolen by the hypervisor, in USER_HZ ticks. */
  def stealTicks(): Long =
    scala.io.Source.fromFile("/proc/stat").getLines().next().split("\\s+")
      .lift(8).map(_.toLong).getOrElse(0L)

  def peakRssKb(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)

  def listDirs(p: Path): Seq[String] =
    if (!Files.isDirectory(p)) Nil
    else {
      val s = Files.list(p)
      try s.iterator().asScala.filter(Files.isDirectory(_)).map(_.getFileName.toString).toList
      finally s.close()
    }

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
}
