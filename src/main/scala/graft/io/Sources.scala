package graft.io

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration
import java.util.concurrent.{CompletableFuture, ExecutionException, ExecutorService, Executors,
  RejectedExecutionException, ScheduledExecutorService, ThreadFactory, TimeUnit}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.CollectionAccumulator

/** REST/JDBC source layer — the reference's extraction surface
  * (SURVEY.md §2.1 S1–S7) re-expressed Spark-first.
  *
  * Architecture: the TRANSPORT (how bytes are fetched) is a
  * serializable function injected by the caller — production uses
  * [[Sources.JdkHttpTransport]] (JDK 11+ HttpClient, no extra deps),
  * tests inject fixture transports. Everything AFTER the fetch is a
  * Spark plan: payload strings become DataFrames via `spark.read.json`
  * (schema inference = the pandas `json_normalize` dynamic-schema
  * behavior, SURVEY §1.3), envelopes unwrap with `explode`, and
  * heterogeneous per-payload schemas union by name natively.
  *
  * Scale notes (100 TB): single-shot scans (S1/S2/S4/S5) fetch on the
  * driver — correct for the reference's bounded admin endpoints (≤11k
  * rows). A pipeline fetches its independent scans at once
  * ([[Sources.concurrent]]), and a scan it reads more than once is
  * pinned on the driver ([[Sources.pinLocal]]), so it starts Spark jobs
  * only to parse its payload once. The fan-out scan (S3) is the one
  * that multiplies: one request per key — so it fetches ON EXECUTORS
  * via `mapPartitions`, in at most one wave of tasks that each run
  * their keys' requests on a task-local thread pool, so about
  * `parallelism` requests are in flight whatever the number of task
  * slots (the reference overlaps them with aiohttp + `as_completed`,
  * LAT:129-164). A key waiting out its retry backoff sits on a
  * task-local timer, not on a pool thread, so it holds no request slot,
  * as a pending aiohttp retry holds no connection; in-flight requests
  * stay at most `parallelism`, and each key makes at most `retries + 1`
  * attempts with linear backoff. Per-key failures are recorded in an
  * accumulator keyed by the ACTUAL failed id (the reference's
  * `failed_ids.append(cont)` at LAT:162 records the loop variable — a
  * bug we fix, not port).
  */
object Sources {

  /** One REST request: url + query params + headers. */
  final case class RestRequest(url: String,
                               params: Map[String, String] = Map.empty,
                               headers: Map[String, String] = Map.empty) {
    def fullUrl: String =
      if (params.isEmpty) url
      else url + "?" + params.toSeq.sortBy(_._1).map { case (k, v) =>
        java.net.URLEncoder.encode(k, "UTF-8") + "=" +
          java.net.URLEncoder.encode(v, "UTF-8")
      }.mkString("&")
  }

  /** Pluggable fetch function; must be serializable because S3 ships
    * it to executors, and thread-safe because S3 calls it concurrently
    * from several threads of one task.
    */
  trait Transport extends (RestRequest => String) with Serializable

  /** Production transport over the JDK's HttpClient (public JDK API;
    * no third-party HTTP dependency). One client per JVM.
    */
  object JdkHttpTransport extends Transport {
    @transient private lazy val client =
      HttpClient.newBuilder().connectTimeout(Duration.ofSeconds(30)).build()
    def apply(req: RestRequest): String = {
      val b = HttpRequest.newBuilder(URI.create(req.fullUrl))
        .timeout(Duration.ofSeconds(600)) // reference's aiohttp timeout, LAT:131
      req.headers.foreach { case (k, v) => b.header(k, v) }
      val resp = client.send(b.GET().build(), HttpResponse.BodyHandlers.ofString())
      if (resp.statusCode() >= 400) // raise_for_status, LAT:44
        throw new RuntimeException(s"HTTP ${resp.statusCode()} for ${req.fullUrl}")
      resp.body()
    }
  }

  /** Parse one JSON payload (array or envelope) into a DataFrame.
    * @param root envelope key holding the row array (`data` LAT:91,
    *             `report` LAT:135); None when the payload IS the array
    */
  def parseJson(spark: SparkSession, payloads: Dataset[String],
                root: Option[String]): DataFrame = {
    val raw = spark.read.json(payloads)
    root match {
      case Some(r) => raw.select(explode(col(r)).as("row")).select("row.*")
      case None    => raw
    }
  }

  /** S1/S5 (LAT:39-75; SER:114-144) — single-shot REST GET scan:
    * fetch on the driver, infer schema, return the rows as a
    * DataFrame.
    */
  def restScan(spark: SparkSession, transport: Transport, req: RestRequest,
               root: Option[String] = None): DataFrame = {
    import spark.implicits._
    parseJson(spark, spark.createDataset(Seq(transport(req))), root)
  }

  /** S2 (LAT:77-126) — REST scan with server-side ORDER BY + LIMIT
    * pushdown: the datatable params ask the SERVER to sort and cap,
    * so the client never sees more than `limit` rows — the moral
    * equivalent of DSv2 `SupportsPushDownLimit`/`TopN`.
    */
  def restScanOrdered(spark: SparkSession, transport: Transport, req: RestRequest,
                      orderCol: String, desc: Boolean, limit: Int,
                      root: Option[String] = None): DataFrame = {
    val pushed = req.copy(params = req.params ++ Map(
      "order[0][column]" -> "0", "columns[0][data]" -> orderCol,
      "order[0][dir]" -> (if (desc) "desc" else "asc"),
      "start" -> "0", "length" -> limit.toString))
    restScan(spark, transport, pushed, root)
  }

  /** S4 (SER:68-112) — parameterized REST scan with `expand[]`
    * projection/join pushdown: the server joins in the requested
    * related entities, so the expand list IS the pushed projection.
    */
  def restScanExpanded(spark: SparkSession, transport: Transport, req: RestRequest,
                       expand: Seq[String], extraParams: Map[String, String] = Map.empty,
                       root: Option[String] = None): DataFrame = {
    val params = req.params ++ extraParams ++
      expand.zipWithIndex.map { case (e, i) => s"expand[$i]" -> e }
    restScan(spark, transport, req.copy(params = params), root)
  }

  /** Datatable start/length window for page `page` (LAT:78's paging
    * vocabulary, shared by the cursor and parallel paged scans).
    */
  private def pageParams(page: Long, pageSize: Int): Map[String, String] =
    Map("start" -> (page * pageSize).toString,
      "length" -> pageSize.toString)

  /** Is the payload's row array literally empty? A cheap string scan
    * (first non-whitespace char after the root array's `[`) so the
    * cursor loop never runs a Spark job per page. A payload with no
    * root array at all also reads as empty — the loop must terminate
    * on a drained endpoint whatever shape it returns.
    *
    * The root key is matched as the first `"root"` followed (modulo
    * whitespace) by `:` then `[` — a `"root"` string VALUE or
    * non-array field never matches. Contract: the envelope's row key
    * must be the first field of that name whose value is an array
    * (a nested object reusing the name earlier in the payload is not
    * supported — use the full `spark.read.json` path for such
    * shapes).
    */
  private[graft] def pageIsEmpty(payload: String, root: Option[String]): Boolean = {
    def skipWs(from: Int): Int = {
      var j = from
      while (j < payload.length && payload.charAt(j).isWhitespace) j += 1
      j
    }
    def arrayEmptyAt(bracket: Int): Boolean = {
      val j = skipWs(bracket + 1)
      j < payload.length && payload.charAt(j) == ']'
    }
    root match {
      case None =>
        val i = payload.indexOf('[')
        i < 0 || arrayEmptyAt(i)
      case Some(r) =>
        // first `"r"` whose value is an array
        val needle = "\"" + r + "\""
        var k = payload.indexOf(needle)
        while (k >= 0) {
          val colon = skipWs(k + needle.length)
          if (colon < payload.length && payload.charAt(colon) == ':') {
            val bracket = skipWs(colon + 1)
            if (bracket < payload.length && payload.charAt(bracket) == '[')
              return arrayEmptyAt(bracket)
          }
          k = payload.indexOf(needle, k + 1)
        }
        true
    }
  }

  /** S2-cursor — page through an endpoint until it returns an EMPTY
    * page: the cursor contract for servers that never report a total
    * count. Each page is one start/length window (LAT:78 vocabulary);
    * all fetched payloads parse as ONE dataset, schemas unioned by
    * name across pages. Zero pages → empty, column-less frame (the
    * same degenerate shape pandas `json_normalize([])` yields).
    *
    * Scale note: an unknown-length cursor is inherently SEQUENTIAL —
    * page N+1's existence is only learned from page N — so this
    * fetches on the driver like S1/S2 and is for bounded admin
    * endpoints. When the server reports the total (datatable
    * `recordsTotal`), use [[restScanPagedParallel]]: page indexes
    * become S3 fan-out keys and fetch on executors.
    */
  def restScanPaged(spark: SparkSession, transport: Transport, req: RestRequest,
                    pageSize: Int, root: Option[String] = None,
                    maxPages: Int = 100000): DataFrame = {
    import spark.implicits._
    require(pageSize > 0, s"pageSize must be positive, got $pageSize")
    val pages = Iterator.from(0)
      .take(maxPages)
      .map(p => transport(req.copy(params = req.params ++ pageParams(p, pageSize))))
      .takeWhile(payload => !pageIsEmpty(payload, root))
      .toVector
    if (pages.isEmpty) spark.emptyDataFrame
    else parseJson(spark, spark.createDataset(pages), root)
  }

  /** S2-parallel — known-total paged scan: with `totalRows` reported
    * by the server, every page index is known up front, so pages
    * become keys of the S3 fan-out and fetch ON EXECUTORS with the
    * same bounded retries; pages that fail every attempt land in the
    * returned accumulator. This is the 100 TB shape: fetch
    * parallelism = `parallelism`, no driver bottleneck.
    */
  def restScanPagedParallel(spark: SparkSession, transport: Transport,
                            req: RestRequest, pageSize: Int, totalRows: Long,
                            root: Option[String] = None,
                            parallelism: Int = 16): (DataFrame, CollectionAccumulator[Long]) = {
    require(pageSize > 0, s"pageSize must be positive, got $pageSize")
    require(totalRows >= 0, s"totalRows must be non-negative, got $totalRows")
    val nPages: Long = (totalRows + pageSize - 1) / pageSize
    // the page-key list materializes on the driver — refuse silently
    // truncating (the old .toInt overflow) or OOM-ing on absurd input
    require(nPages <= 10_000_000L,
      s"$nPages pages ($totalRows rows / $pageSize per page) exceeds the " +
        "driver-side key-list bound; shard the range across calls")
    if (nPages == 0L)
      (spark.emptyDataFrame,
        spark.sparkContext.collectionAccumulator[Long]("graft.s3.failedKeys"))
    else {
      val fo = fanOutScan(spark, transport, (0L until nPages).toSeq,
        p => req.copy(params = req.params ++ pageParams(p, pageSize)),
        parallelism)
      (parseFanOut(spark, fo, root), fo.failedKeys)
    }
  }

  /** Result of the S3 fan-out: raw (key, payload) successes — parse
    * with [[parseJson]]/[[parseFanOut]] — plus the accumulated failed
    * keys (read AFTER an action has run the fetch).
    */
  final case class FanOut(payloads: Dataset[(Long, String)],
                          failedKeys: CollectionAccumulator[Long])

  /** S3 (LAT:129-164) — fan-out scan: one GET per key, fetched ON
    * EXECUTORS. Keys are dealt round-robin into
    * `min(keys, parallelism, defaultParallelism)` tasks, so every task
    * runs in the first wave; each task fetches its keys on a
    * task-local pool, the pools' threads summing to `parallelism`.
    * A key makes at most `retries + 1` attempts; after failed attempt
    * n it waits 50·n ms on the task's backoff timer, holding no pool
    * thread, so a backing-off key never takes a request slot.
    * Failures never kill the scan: a key that fails every retry is
    * collected in an accumulator under its ACTUAL id (fixing the
    * reference's loop-variable bug at LAT:162). An interrupt does kill
    * it — a cancelled job stops fetching instead of retrying.
    *
    * @param parallelism concurrent HTTP requests, at most
    * @param retries attempts after a key's first failed one
    */
  def fanOutScan(spark: SparkSession, transport: Transport, keys: Seq[Long],
                 reqOf: Long => RestRequest, parallelism: Int = 16,
                 retries: Int = 2): FanOut = {
    import spark.implicits._
    require(parallelism > 0, s"parallelism must be positive, got $parallelism")
    require(retries >= 0, s"retries must be non-negative, got $retries")
    val acc = spark.sparkContext.collectionAccumulator[Long]("graft.s3.failedKeys")
    val tasks = math.max(1, Seq(keys.size, parallelism,
      spark.sparkContext.defaultParallelism).min)
    // PINNED: downstream consumers run several actions over the
    // payloads (schema inference, the load, any validation pass) — an
    // unpersisted plan would re-execute every HTTP request per action
    // and double-count failures in the accumulator.
    val payloads = spark.createDataset(keys).repartition(tasks)
      .mapPartitions { it =>
        // the first `parallelism % tasks` partitions take one extra
        // thread, so the pools sum to exactly `parallelism`
        val part = TaskContext.getPartitionId()
        val threads = parallelism / tasks + (if (part < parallelism % tasks) 1 else 0)
        val pool = Executors.newFixedThreadPool(threads, daemonThreads(s"graft-s3-fetch-$part"))
        val timer = Executors.newSingleThreadScheduledExecutor(
          daemonThreads(s"graft-s3-backoff-$part"))
        val fetch = new RetryingFetch(transport, reqOf, retries, pool, timer)
        val pending = ArrayBuffer.empty[(Long, CompletableFuture[Option[String]])]
        try {
          it.foreach(key => pending += key -> fetch(key))
          // joined in key order on the task thread, which must own the
          // accumulator updates: Spark ships them when the task ends
          val fetched = pending.flatMap { case (key, f) =>
            val r = try f.get() catch { case e: ExecutionException => throw e.getCause }
            if (r.isEmpty) acc.add(key)
            r.map(key -> _)
          }
          fetched.iterator
        } finally {
          timer.shutdownNow()
          pool.shutdownNow()
          // a scan that failed leaves no key unfinished
          pending.foreach(_._2.cancel(false))
        }
      }.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    FanOut(payloads, acc)
  }

  /** Daemon threads: a call that ignores shutdownNow's interrupt
    * cannot keep the executor JVM alive.
    */
  private def daemonThreads(name: String): ThreadFactory = (r: Runnable) => {
    val t = new Thread(r, name)
    t.setDaemon(true)
    t
  }

  /** The fetches of one fan-out task. Attempts run on `pool`; a failed
    * attempt n returns its thread at once and `timer` puts attempt
    * n + 1 back on the pool after 50·n ms (transient endpoint hiccups
    * are the norm at fan-out scale). Each key ends in one future:
    * `Some(payload)`, `None` when all `retries + 1` attempts failed, or
    * completed exceptionally by a fatal error or interrupt from the
    * transport, or by a retry that finds the pool or timer shut down.
    */
  private[graft] final class RetryingFetch(transport: Transport, reqOf: Long => RestRequest,
                                           retries: Int, pool: ExecutorService,
                                           timer: ScheduledExecutorService) {
    def apply(key: Long): CompletableFuture[Option[String]] = {
      val done = new CompletableFuture[Option[String]]()
      submit(key, 0, done)
      done
    }

    /** Runs the attempt after `failed` failed ones on the pool. */
    private def submit(key: Long, failed: Int, done: CompletableFuture[Option[String]]): Unit =
      try pool.execute(() => attempt(key, failed, done))
      catch { case e: RejectedExecutionException => done.completeExceptionally(e) }

    private def attempt(key: Long, failed: Int, done: CompletableFuture[Option[String]]): Unit =
      try done.complete(Some(transport(reqOf(key))))
      catch {
        case NonFatal(_) if failed < retries =>
          val n = failed + 1
          val retry: Runnable = () => submit(key, n, done)
          try timer.schedule(retry, 50L * n, TimeUnit.MILLISECONDS)
          catch { case e: RejectedExecutionException => done.completeExceptionally(e) }
        case NonFatal(_) => done.complete(None)
        case e: Throwable => done.completeExceptionally(e)
      }
  }

  /** Parse fan-out payloads into one DataFrame (schema unioned by
    * name across heterogeneous payloads, like the reference's
    * `pd.concat` at LAT:241).
    */
  def parseFanOut(spark: SparkSession, fanOut: FanOut,
                  root: Option[String]): DataFrame =
    parseJson(spark, fanOut.payloads.map(_._2)(org.apache.spark.sql.Encoders.STRING), root)

  /** S6 (SER:146-152) — JDBC scan with query pushdown: the projection
    * and any predicate live INSIDE the pushed subquery, so the DB
    * ships only the (key, version) pairs the CDC probe needs.
    */
  def jdbcScan(spark: SparkSession, url: String, query: String,
               props: java.util.Properties): DataFrame =
    spark.read.jdbc(url, s"($query) pushed", props)

  /** S7 (SER:36-56) — concurrent independent source fetches: the
    * reference's ThreadPoolExecutor becomes driver-side Futures (the
    * fetch, and any job a source runs to parse or pin its rows, is the
    * blocking part). Each thunk runs under the caller's job group,
    * description, interrupt flag and job tags, so its jobs are
    * attributed to, and cancelled with, the caller's; the pool
    * thread's own values come back afterwards. Results keep their
    * names; any failure fails the batch, like `future.result()` at
    * SER:49.
    */
  def concurrent(spark: SparkSession, sources: Map[String, () => DataFrame],
                 timeoutSec: Int = 600): Map[String, DataFrame] = {
    import scala.concurrent.{Await, Future, ExecutionContext, blocking}
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.global
    val sc = spark.sparkContext
    // a pool thread carries the local properties of whichever thread
    // it was created from, not the caller's
    def jobProps = JobProps.map(k => k -> sc.getLocalProperty(k))
    val callers = jobProps
    def asCaller[A](body: => A): A = {
      val own = jobProps
      callers.foreach { case (k, v) => sc.setLocalProperty(k, v) }
      try body finally own.foreach { case (k, v) => sc.setLocalProperty(k, v) }
    }
    // blocking: lets the global pool add threads when more sources
    // than cores wait on their transport at once
    val futs = sources.map { case (name, thunk) => Future(blocking((name, asCaller(thunk())))) }
    Await.result(Future.sequence(futs.toSeq), timeoutSec.seconds).toMap
  }

  /** The local properties that scope a job: group, description,
    * interrupt-on-cancel and tags (a null value is unset).
    */
  private val JobProps = Seq("spark.jobGroup.id", "spark.job.description",
    "spark.job.interruptOnCancel", "spark.job.tags")

  /** Pin a bounded frame on the driver: its rows are collected once
    * and come back as a local relation. Later projections and filters
    * over it fold on the driver and collecting them runs no job, so a
    * single-shot scan read several times parses its payload once. For
    * driver-sized frames only (the S1/S2 scans, ≤11k rows).
    */
  def pinLocal(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(df.collect().toSeq.asJava, df.schema)

  /** A3 (LAT:69,101) — collect a small key column to the driver to
    * parameterize a fan-out, deduplicated and sorted there.
    * Deliberately driver-side: the key sets are bounded (≤11k by the
    * S2 limit), so deduping them needs no shuffle, and over a
    * [[pinLocal]] frame the collect runs no job; anything unbounded
    * should stay a DataFrame and join instead.
    */
  def collectKeys(df: DataFrame, keyCol: String): Seq[Long] = {
    import df.sparkSession.implicits._
    df.select(col(keyCol).cast("long")).as[Long].collect().distinct.sorted.toSeq
  }

  /** F8 (LAT:149) — key list → CSV request parameter. */
  def keysCsv(keys: Seq[Long]): String = keys.mkString(",")
}
