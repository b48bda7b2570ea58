package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.JobCounter
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.Sources
import graft.io.Sources.{RestRequest, Transport}
import graft.sources.rest.TransportRegistry

/** Request log + paged fixture transport for the DSv2 connector tests
  * (top-level so nothing ScalaTest-side is captured in closures).
  */
object RestSourceFixture {
  val requests = new ConcurrentLinkedQueue[RestRequest]()

  /** 3 pages × 2 users each; honors the pushed limit param. */
  object PagedTransport extends Transport {
    def apply(req: RestRequest): String = {
      requests.add(req)
      val page = req.params.getOrElse("page", "0").toInt
      val rows = (0 until 2).map { i =>
        val id = page * 2 + i
        s"""{"id": $id, "name": "user$id", "score": ${id * 10}, "extra": "x"}"""
      }
      val limited = req.params.get("length").map(_.toInt) match {
        case Some(n) => rows.take(n)
        case None    => rows
      }
      limited.mkString("[", ",", "]")
    }
  }

  /** Envelope form: {"data": [...]} */
  object EnvelopeTransport extends Transport {
    def apply(req: RestRequest): String = {
      requests.add(req)
      """{"data": [{"id": 1, "v": "a"}, {"id": 2, "v": "b"}]}"""
    }
  }

  /** Cursor endpoint: 3 pages × 2 rows addressed by start/length,
    * then empty pages forever — the server never reports a total.
    */
  object CursorTransport extends Transport {
    def apply(req: RestRequest): String = {
      requests.add(req)
      val start = req.params.getOrElse("start", "0").toInt
      val len = req.params.getOrElse("length", "2").toInt
      val rows = (start until math.min(start + len, 6)).map { id =>
        s"""{"id": $id, "name": "user$id"}"""
      }
      rows.mkString("[", ",", "]")
    }
  }

  /** Same cursor, wrapped in a {"total": …, "data": [...]} envelope. */
  object CursorEnvelopeTransport extends Transport {
    def apply(req: RestRequest): String =
      s"""{"total": 6, "data": ${CursorTransport(req)}}"""
  }

  /** Honors the datatable ordering vocabulary + length: sorts its 6
    * rows by the requested column/direction, then caps — the server
    * side of the TopN pushdown contract (the pushed top-n decides
    * WHICH rows ship; Spark re-sorts them exactly).
    */
  object OrderedTransport extends Transport {
    def apply(req: RestRequest): String = {
      requests.add(req)
      val all = Seq(0, 3, 1, 5, 2, 4) // deliberately unsorted by id
      val sorted = (req.params.get("columns[0][data]"), req.params.get("order[0][dir]")) match {
        case (Some(c), dir) =>
          val key: Int => Int = c match {
            case "id"    => identity
            case "score" => _ * 10
            case other   => sys.error(s"unknown sort column $other")
          }
          if (dir.contains("desc")) all.sortBy(key).reverse else all.sortBy(key)
        case _ => all
      }
      val capped = req.params.get("length").map(_.toInt).fold(sorted)(sorted.take)
      capped.map(i => s"""{"id": $i, "name": "user$i", "score": ${i * 10}}""")
        .mkString("[", ",", "]")
    }
  }

  /** Echoes the key after ~20 ms and records the peak number of calls
    * in flight at once, across every thread of every task.
    */
  object PeakTransport extends Transport {
    val inFlight = new AtomicInteger(0)
    val peak = new AtomicInteger(0)
    def apply(req: RestRequest): String = {
      val now = inFlight.incrementAndGet()
      peak.accumulateAndGet(now, math.max)
      try { Thread.sleep(20); s"""[{"k": ${req.params("k")}}]""" }
      finally inFlight.decrementAndGet()
    }
  }

  /** [[PeakTransport]] (whose peak it shares), but keys ≡ 1 (mod 3)
    * fail their first attempt and keys ≡ 0 (mod 3) fail every attempt;
    * counts attempts per key.
    */
  object FlakyPeakTransport extends Transport {
    val attempts = new ConcurrentHashMap[Long, AtomicInteger]()
    def failures(k: Long): Int = (k % 3).toInt match {
      case 0 => Int.MaxValue
      case 1 => 1
      case _ => 0
    }
    def apply(req: RestRequest): String = {
      val payload = PeakTransport(req)
      val k = req.params("k").toLong
      val n = attempts.computeIfAbsent(k, _ => new AtomicInteger()).incrementAndGet()
      if (n <= failures(k)) throw new RuntimeException(s"attempt $n of key $k failed")
      payload
    }
  }

  /** Takes 10 ms per call; key 1 fails its first attempt. Logs every
    * attempt as (key, start ns, end ns).
    */
  object TimedTransport extends Transport {
    val log = new ConcurrentLinkedQueue[(Long, Long, Long)]()
    def apply(req: RestRequest): String = {
      val k = req.params("k").toLong
      val start = System.nanoTime()
      try {
        Thread.sleep(10)
        if (k == 1L && !log.asScala.exists(_._1 == 1L))
          throw new RuntimeException("first attempt of key 1 failed")
        s"""[{"k": $k}]"""
      } finally log.add((k, start, System.nanoTime()))
    }
  }

  def keyedReq(k: Long): RestRequest = RestRequest("https://api.test/k", Map("k" -> k.toString))

  /** Interrupts its caller on key 3 and counts calls per key. */
  object InterruptingTransport extends Transport {
    val calls = new ConcurrentHashMap[String, AtomicInteger]()
    def apply(req: RestRequest): String = {
      val k = req.params("k")
      calls.computeIfAbsent(k, _ => new AtomicInteger()).incrementAndGet()
      if (k == "3") throw new InterruptedException(s"interrupted on key $k")
      s"""[{"k": $k}]"""
    }
  }

  TransportRegistry.register("paged", PagedTransport)
  TransportRegistry.register("envelope", EnvelopeTransport)
  TransportRegistry.register("ordered", OrderedTransport)
}

class RestSourceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def pagedReader = {
    RestSourceFixture.requests.clear()
    spark.read.format("graft-rest")
      .option("url", "https://api.test/users")
      .option("transport", "paged")
      .option("pages", 3)
  }

  test("paged scan plans one partition per page and unions all rows") {
    val df = pagedReader.load()
    assert(df.rdd.getNumPartitions == 3)
    assert(df.select("id").as[Long].collect().sorted.toSeq == (0L to 5L))
  }

  test("column pruning reaches the reader schema AND the server request") {
    RestSourceFixture.requests.clear()
    val df = pagedReader.option("fieldsParam", "fields").load().select("id", "score")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("fields=id,score"), s"scan not pruned:\n$plan")
    assert(df.as[(Long, Long)].collect().sorted.toSeq ==
      (0L to 5L).map(i => (i, i * 10)))
    // every page request carried the pruned column list
    val reqs = RestSourceFixture.requests.asScala.filter(_.params.contains("page"))
    assert(reqs.nonEmpty && reqs.forall(_.params("fields") == "id,score"))
  }

  test("LIMIT is pushed to the server and re-applied exactly by Spark") {
    RestSourceFixture.requests.clear()
    val df = pagedReader.load().limit(3)
    assert(df.count() == 3)
    val reqs = RestSourceFixture.requests.asScala.filter(_.params.contains("page"))
    // each page fetch was capped server-side by the pushed limit
    assert(reqs.nonEmpty && reqs.forall(_.params("length") == "3"))
  }

  test("equality filters push to the server as params AND are re-applied by Spark") {
    RestSourceFixture.requests.clear()
    // the paged transport does NOT honor the filter param — Spark's
    // re-application must still produce the correct result
    val df = pagedReader.load().filter(col("id") === 3L)
    assert(df.select("id").as[Long].collect().toSeq == Seq(3L))
    val reqs = RestSourceFixture.requests.asScala.filter(_.params.contains("page"))
    assert(reqs.nonEmpty && reqs.forall(_.params.get("id").contains("3")))
  }

  private def orderedReader = {
    RestSourceFixture.requests.clear()
    spark.read.format("graft-rest")
      .option("url", "https://api.test/ordered")
      .option("transport", "ordered")
      .schema("id LONG, name STRING, score LONG")
  }

  test("ORDER BY + LIMIT collapses into the request as a pushed TopN") {
    val df = orderedReader.load().orderBy(col("score").desc).limit(3)
    // plan carries the pushed sort spec + limit
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("pushedTopN=score DESC") && plan.contains("limit=Some(3)"),
      s"TopN not pushed:\n$plan")
    // only 3 rows crossed the wire, and they are the right 3
    assert(df.select("id").as[Long].collect().toSeq == Seq(5L, 4L, 3L))
    // the request itself asked the server to sort desc and cap at 3
    val reqs = RestSourceFixture.requests.asScala.toSeq
    assert(reqs.nonEmpty && reqs.forall { r =>
      r.params.get("columns[0][data]").contains("score") &&
        r.params.get("order[0][dir]").contains("desc") &&
        r.params.get("length").contains("3")
    }, s"order params missing: ${reqs.map(_.params)}")
  }

  test("TopN on a computed key is refused — nothing pushed, result still exact") {
    val df = orderedReader.load().orderBy((col("score") % 7).desc, col("id")).limit(2)
    val reqs = { df.collect(); RestSourceFixture.requests.asScala.toSeq }
    assert(reqs.nonEmpty && reqs.forall(r => !r.params.contains("order[0][dir]")),
      "computed sort key must not reach the server")
    // score % 7 per id 0..5 = 0,3,6,2,5,1 → desc top-2 = ids 2, 4
    assert(df.select("id").as[Long].collect().toSeq == Seq(2L, 4L))
  }

  test("envelope root option unwraps the payload array") {
    val df = spark.read.format("graft-rest")
      .option("url", "https://api.test/wrapped")
      .option("transport", "envelope")
      .option("root", "data")
      .load()
    assert(df.orderBy("id").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "b")))
  }

  test("count(*) projection still yields one row per element") {
    assert(pagedReader.load().count() == 6)
  }

  test("cursor paging fetches until the first empty page, no further") {
    RestSourceFixture.requests.clear()
    val df = graft.io.Sources.restScanPaged(spark, RestSourceFixture.CursorTransport,
      RestRequest("https://api.test/cursor"), pageSize = 2)
    assert(df.select("id").as[Long].collect().sorted.toSeq == (0L to 5L))
    val reqs = RestSourceFixture.requests.asScala.toSeq
    // 3 full pages + exactly one empty probe
    assert(reqs.map(_.params("start")) == Seq("0", "2", "4", "6"))
  }

  test("cursor paging unwraps an envelope root and stops on its empty array") {
    RestSourceFixture.requests.clear()
    val df = graft.io.Sources.restScanPaged(spark,
      RestSourceFixture.CursorEnvelopeTransport,
      RestRequest("https://api.test/cursor"), pageSize = 4, root = Some("data"))
    assert(df.select("id").as[Long].collect().sorted.toSeq == (0L to 5L))
    assert(RestSourceFixture.requests.size == 3) // 4 + 2 rows, then empty
  }

  test("cursor paging on an immediately-empty endpoint yields an empty frame") {
    val empty = graft.io.Sources.restScanPaged(spark,
      new Transport { def apply(r: RestRequest) = "[]" },
      RestRequest("https://api.test/none"), pageSize = 2)
    assert(empty.columns.isEmpty && empty.count() == 0)
  }

  test("known-total paging fans pages out and matches the cursor result") {
    RestSourceFixture.requests.clear()
    val (df, failed) = graft.io.Sources.restScanPagedParallel(spark,
      RestSourceFixture.CursorTransport,
      RestRequest("https://api.test/cursor"), pageSize = 2, totalRows = 6)
    assert(df.select("id").as[Long].collect().sorted.toSeq == (0L to 5L))
    assert(failed.value.isEmpty)
    // exactly the 3 page windows, no empty probe needed
    val starts = RestSourceFixture.requests.asScala.map(_.params("start")).toSeq.sorted
    assert(starts == Seq("0", "2", "4"))
  }

  test("fan-out keeps up to `parallelism` requests in flight, more than the task slots") {
    import RestSourceFixture.{PeakTransport, keyedReq}
    def run(parallelism: Int): Int = {
      PeakTransport.peak.set(0)
      val fo = Sources.fanOutScan(spark, PeakTransport, 1L to 64L, keyedReq, parallelism)
      assert(fo.payloads.collect().sortBy(_._1).toSeq ==
        (1L to 64L).map(k => k -> s"""[{"k": $k}]"""))
      assert(fo.failedKeys.value.isEmpty)
      PeakTransport.peak.get
    }
    assert(spark.sparkContext.defaultParallelism == 4)
    val peak8 = run(8)
    assert(peak8 <= 8 && peak8 > 4, s"peak in-flight $peak8 with parallelism 8")
    assert(run(1) == 1)

    // keys backing off between attempts do not add to the in-flight count
    import RestSourceFixture.FlakyPeakTransport
    PeakTransport.peak.set(0)
    FlakyPeakTransport.attempts.clear()
    val keys = 1L to 48L
    val fo = Sources.fanOutScan(spark, FlakyPeakTransport, keys, keyedReq, parallelism = 8)
    val lost = keys.filter(_ % 3 == 0)
    assert(fo.payloads.collect().sortBy(_._1).toSeq ==
      keys.filterNot(lost.contains).map(k => k -> s"""[{"k": $k}]"""))
    assert(PeakTransport.peak.get <= 8, s"peak in-flight ${PeakTransport.peak.get}")
    for (k <- keys) {
      val expected = math.min(FlakyPeakTransport.failures(k).toLong + 1, 3L)
      assert(FlakyPeakTransport.attempts.get(k).get == expected, s"attempts of key $k")
    }
    assert(fo.failedKeys.value.asScala.toSeq.sorted == lost)
  }

  test("fan-out refuses a negative retry budget") {
    val err = intercept[IllegalArgumentException](Sources.fanOutScan(spark,
      RestSourceFixture.PeakTransport, Seq(1L), RestSourceFixture.keyedReq, retries = -1))
    assert(err.getMessage.contains("retries must be non-negative, got -1"))
  }

  test("a key backing off frees its request slot for the next key") {
    import RestSourceFixture.{TimedTransport, keyedReq}
    TimedTransport.log.clear()
    val fo = Sources.fanOutScan(spark, TimedTransport, Seq(1L, 2L), keyedReq, parallelism = 1)
    assert(fo.payloads.collect().toSeq == Seq(1L -> """[{"k": 1}]""", 2L -> """[{"k": 2}]"""))
    assert(fo.failedKeys.value.isEmpty)
    val log = TimedTransport.log.asScala.toSeq.sortBy(_._2)
    assert(log.map(_._1) == Seq(1L, 2L, 1L), log)
    val Seq((_, _, failedEnd), (_, k2Start, _), (_, retryStart, _)) = log
    // k2 ran while k1 waited out its backoff ...
    assert(k2Start < retryStart)
    // ... which is still 50 ms after the failed attempt
    assert(retryStart - failedEnd >= 50L * 1000 * 1000,
      s"retry ${(retryStart - failedEnd) / 1e6} ms after the failure")
  }

  test("an interrupted fetch fails the scan instead of retrying or losing the key") {
    import RestSourceFixture.{InterruptingTransport, keyedReq}
    InterruptingTransport.calls.clear()
    val fo = Sources.fanOutScan(spark, InterruptingTransport, 1L to 8L, keyedReq)
    val err = intercept[org.apache.spark.SparkException](fo.payloads.count())
    assert(err.getMessage.contains("interrupted on key 3"), err.getMessage)
    assert(fo.failedKeys.value.isEmpty)
    assert(InterruptingTransport.calls.get("3").get == 1)
  }

  /** Names of live fan-out threads once they had up to 5 s to exit
    * (shutdownNow interrupts them; they end asynchronously).
    */
  private def fanOutThreads(): Set[String] = {
    def live = Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.isAlive && t.getName.startsWith("graft-s3-")).map(_.getName).toSet
    val deadline = System.nanoTime() + 5L * 1000 * 1000 * 1000
    while (live.nonEmpty && System.nanoTime() < deadline) Thread.sleep(20)
    live
  }

  test("no fetch or backoff thread outlives a scan") {
    import RestSourceFixture.{FlakyPeakTransport, InterruptingTransport, PeakTransport, keyedReq}
    Sources.fanOutScan(spark, PeakTransport, 1L to 16L, keyedReq).payloads.count()
    assert(fanOutThreads().isEmpty, "after a clean scan")
    FlakyPeakTransport.attempts.clear()
    val lossy = Sources.fanOutScan(spark, FlakyPeakTransport, 1L to 12L, keyedReq)
    lossy.payloads.count()
    assert(lossy.failedKeys.value.size == 4)
    assert(fanOutThreads().isEmpty, "after a scan with lost keys")
    intercept[org.apache.spark.SparkException](
      Sources.fanOutScan(spark, InterruptingTransport, 1L to 8L, keyedReq).payloads.count())
    assert(fanOutThreads().isEmpty, "after an interrupted scan")
  }

  test("a retry that finds its pool or timer shut down completes its key's future") {
    import java.util.concurrent.{ExecutionException, Executors, RejectedExecutionException,
      ScheduledThreadPoolExecutor, TimeUnit}
    val timerErrors = new ConcurrentLinkedQueue[Throwable]()
    // records what each timer task threw (a scheduled task's own future keeps it)
    class Timer extends ScheduledThreadPoolExecutor(1) {
      override def afterExecute(r: Runnable, t: Throwable): Unit = r match {
        case f: java.util.concurrent.Future[_] if f.isDone =>
          try f.get() catch { case e: ExecutionException => timerErrors.add(e.getCause) }
        case _ =>
      }
    }
    def failOnce(onFailure: () => Unit): Transport = new Transport {
      val calls = new AtomicInteger()
      def apply(req: RestRequest): String =
        if (calls.incrementAndGet() == 1) { onFailure(); throw new RuntimeException("down") }
        else "[]"
    }
    def rejected(f: java.util.concurrent.CompletableFuture[Option[String]]) = {
      val e = intercept[ExecutionException](f.get(5, TimeUnit.SECONDS))
      assert(e.getCause.isInstanceOf[RejectedExecutionException], e.getCause)
    }

    // the pool shuts down while the key backs off: the retry fires on
    // the timer, finds the pool gone and fails the key's future
    val pool = Executors.newFixedThreadPool(1)
    val timer = new Timer
    try {
      val f = new Sources.RetryingFetch(failOnce(() => pool.shutdown()),
        RestSourceFixture.keyedReq, 2, pool, timer)(1L)
      rejected(f)
    } finally { pool.shutdownNow(); timer.shutdownNow() }
    assert(timerErrors.isEmpty, timerErrors)

    // the timer is already shut down when the attempt fails
    val pool2 = Executors.newFixedThreadPool(1)
    val timer2 = new Timer
    try {
      val f = new Sources.RetryingFetch(failOnce(() => timer2.shutdown()),
        RestSourceFixture.keyedReq, 2, pool2, timer2)(1L)
      rejected(f)
    } finally { pool2.shutdownNow(); timer2.shutdownNow() }
    assert(timerErrors.isEmpty, timerErrors)
  }

  test("collectKeys returns sorted, distinct keys; over a pinned frame it runs no job") {
    val sc = spark.sparkContext
    val unsorted = Seq(5, 3, 5, 1, 3, 9).toDF("k")
    val (keys, jobs) = JobCounter.count(sc)(Sources.collectKeys(unsorted, "k"))
    assert(keys == Seq(1L, 3L, 5L, 9L))
    assert(jobs == 0)
    // a frame the executors compute is collected once and deduped on the driver
    val computed = spark.range(12).select((col("id") * 7 % 5).as("k"))
    assert(Sources.collectKeys(computed, "k") == Seq(0L, 1L, 2L, 3L, 4L))
    val pinned = Sources.pinLocal(computed.filter(col("k") > 1))
    assert(pinned.schema == computed.schema)
    val (pinnedKeys, pinnedJobs) = JobCounter.count(sc)(Sources.collectKeys(pinned, "k"))
    assert(pinnedKeys == Seq(2L, 3L, 4L))
    assert(pinnedJobs == 0)
  }

  test("a job started inside a concurrent source runs under the caller's job group") {
    val sc = spark.sparkContext
    val sources = (1 to 8).map(i => s"s$i" -> { () =>
      spark.range(3).collect()
      spark.emptyDataFrame
    }).toMap
    def groupsOf(): Seq[Option[String]] = {
      val (out, groups) = JobCounter.jobGroups(sc)(Sources.concurrent(spark, sources))
      assert(out.keySet == sources.keySet)
      assert(groups.size == sources.size, groups)
      groups
    }
    try {
      // the second call reuses pool threads the first one started,
      // which inherited the first caller's group
      for (group <- Seq("caller-1", "caller-2")) {
        sc.setJobGroup(group, s"concurrent $group", interruptOnCancel = false)
        val groups = groupsOf()
        assert(groups.forall(_.contains(group)), groups)
        assert(sc.getLocalProperty("spark.jobGroup.id") == group)
      }
      sc.clearJobGroup()
      val groups = groupsOf()
      assert(groups.forall(_.isEmpty), groups)
    } finally sc.clearJobGroup()
  }

  test("pageIsEmpty handles bare arrays, envelopes, and junk") {
    import graft.io.Sources.pageIsEmpty
    assert(pageIsEmpty("[]", None))
    assert(pageIsEmpty("  [ \n ]  ", None))
    assert(!pageIsEmpty("""[{"a": 1}]""", None))
    assert(pageIsEmpty("""{"data": []}""", Some("data")))
    assert(pageIsEmpty("""{"total": 6, "data": [ ]}""", Some("data")))
    assert(!pageIsEmpty("""{"data": [{"a": 1}]}""", Some("data")))
    assert(pageIsEmpty("""{"other": [1]}""", Some("data"))) // missing root → stop
    assert(pageIsEmpty("not json at all", None)) // no array → stop
    // the key must be followed by ':' then '[' — a string VALUE or
    // scalar field named like the root never matches
    assert(pageIsEmpty("""{"title": "data", "data": []}""", Some("data")))
    assert(!pageIsEmpty("""{"count": 3, "data" : [ {"a": 1} ]}""", Some("data")))
    assert(pageIsEmpty("""{"data": 3, "rows": [1]}""", Some("data"))) // non-array root → stop
  }
}
