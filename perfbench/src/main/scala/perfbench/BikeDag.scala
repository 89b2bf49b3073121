package perfbench

import java.nio.charset.StandardCharsets
import java.time.{Clock, Instant, ZoneOffset}
import java.util.concurrent.{Callable, Executors}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.duration.Duration

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.bike.{BikeJobs, BikeSchemas}
import graft.enriched.Enriched
import graft.ml.WeightedKMeans
import graft.pipeline.{BikePipeline, Feed, FeedClient, Ingest}
import graft.serving.{ParquetSink, Serving}
import graft.streaming.Streaming

/** Seeded GBFS payloads: a fixed station and bike population per seed,
  * with availability and report times drawn per tick and stamped from
  * the tick's clock, so every tick's records sit inside the K-Means
  * window. */
final class SeededFeeds(seed: Long, stations: Int, bikes: Int) extends FeedClient {
  @volatile var tickEpoch: Long = 0L
  @volatile var tick: Int = 0

  private val rnd0 = new scala.util.Random(seed)
  private val stationGeo = Array.fill(stations)(
    (48.81 + rnd0.nextDouble() * 0.09, 2.25 + rnd0.nextDouble() * 0.17, 10 + rnd0.nextInt(51)))
  private val methods = Array("[\"CREDITCARD\"]", "[\"KEY\"]", "[\"CREDITCARD\",\"KEY\"]")

  /** Column sums of the payloads last served, for the output check. */
  @volatile var ssBikes: Long = 0L
  @volatile var limeRange: Long = 0L
  val siCapacity: Long = stationGeo.map(_._3.toLong).sum

  private def rnd(feed: Int): scala.util.Random =
    new scala.util.Random(seed * 1000003L + tick * 31L + feed)

  def payloadBytes: Long = Seq(Feed.VelibSs, Feed.VelibSi, Feed.LimeFbs)
    .map(f => fetch(f).length.toLong).sum

  def fetch(feed: Feed): Array[Byte] = {
    val sb = new StringBuilder
    val t = tickEpoch
    feed.name match {
      case "velib_ss" =>
        val r = rnd(1)
        var total = 0L
        sb ++= s"""{"lastUpdatedOther":$t,"ttl":3600,"data":{"stations":["""
        stationGeo.zipWithIndex.foreach { case ((_, _, cap), i) =>
          val b = r.nextInt(cap + 1)
          total += b
          if (i > 0) sb += ','
          sb ++= s"""{"station_id":${100000 + i},"stationCode":"${16000 + i}","num_bikes_available":$b,"num_docks_available":${cap - b},"is_installed":${r.nextInt(2)},"is_returning":${r.nextInt(2)},"is_renting":${r.nextInt(2)},"last_reported":${t - r.nextInt(590)}}"""
        }
        ssBikes = total
      case "velib_si" =>
        sb ++= s"""{"lastUpdatedOther":$t,"ttl":3600,"data":{"stations":["""
        stationGeo.zipWithIndex.foreach { case ((lat, lon, cap), i) =>
          if (i > 0) sb += ','
          sb ++= f"""{"station_id":${100000 + i},"stationCode":"${16000 + i}","name":"Station $i","lat":$lat%.6f,"lon":$lon%.6f,"capacity":$cap,"rental_methods":${methods(i % 3)}}"""
        }
      case "lime_fbs" =>
        val r = rnd(3)
        var total = 0L
        sb ++= s"""{"last_updated":$t,"ttl":0,"data":{"bikes":["""
        (0 until bikes).foreach { i =>
          val lat = 48.81 + r.nextDouble() * 0.09
          val lon = 2.25 + r.nextDouble() * 0.17
          val reserved = if (r.nextInt(2) == 0) "false" else "true"
          val disabled = if (r.nextInt(10) == 0) "true" else "false"
          val range = r.nextInt(30000)
          total += range
          val vt = if (r.nextInt(2) == 0) "scooter" else "ebike"
          if (i > 0) sb += ','
          sb ++= f"""{"bike_id":"lime-$i%05d","lat":$lat%.6f,"lon":$lon%.6f,"is_reserved":"$reserved","is_disabled":"$disabled","current_range_meters":$range,"vehicle_type_id":"vt-$vt","vehicle_type":"$vt","last_reported":${t - r.nextInt(590)}}"""
        }
        limeRange = total
    }
    sb ++= "]}}"
    sb.toString.getBytes(StandardCharsets.UTF_8)
  }
}

/** The paper's job: each op is one DAG tick (`BikePipeline.run` with a
  * Parquet serving sink, a pinned clock ten minutes past the previous
  * tick, 2 retries at zero delay) followed by an AvailableNow drain of the
  * tick's station-status drop through `Streaming.ssStreamJob`. A traced
  * tick drives the same steps itself, on at most three threads, in the
  * runner's order. */
final class BikeDag(seed: Long) extends Workload {
  val Stations = 1500
  val Bikes = 5000
  private val feeds = new SeededFeeds(seed, Stations, Bikes)
  private val baseEpoch = 1740000000L + (seed % 97) * 86400L
  private var tick = 0
  private lazy val pool = Executors.newFixedThreadPool(3)
  private val retries = new AtomicInteger
  private val retry = BikePipeline.RetryPolicy(2, Duration.Zero)

  private def lake(c: Ctx) = s"${c.work}/lake"
  private def sink(c: Ctx) = ParquetSink(s"${lake(c)}/serving/all_bike_data")

  private final case class TickOut(formatted: Map[String, String], enriched: String,
                                   served: Option[Long], kmeansRows: Long)

  override def minPasses: Int = 2

  def warm(c: Ctx): Unit = {
    // start the branch threads before any span tags exist to inherit
    pool.submit(new Runnable { def run(): Unit = () }).get()
    runTick(c, None)
  }

  def pass(c: Ctx, op: OpRec => Unit): Unit = runTick(c, Some(op))

  private def runTick(c: Ctx, op: Option[OpRec => Unit]): Unit = {
    tick += 1
    feeds.tick = tick
    feeds.tickEpoch = baseEpoch + tick * 600L
    val clock = Clock.fixed(Instant.ofEpochSecond(feeds.tickEpoch), ZoneOffset.UTC)
    val before = if (c.tracer.enabled) c.untimed(lakeFiles(c)) else (0L, 0L)
    val t0 = System.nanoTime()
    val out =
      try Some(if (c.tracer.enabled) tracedTick(c, clock) else plainTick(c, clock))
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] tick $tick threw: $e")
        None
      }
    val t = (System.nanoTime() - t0) / 1e9
    op.foreach(_(OpRec("tick", t, out.isDefined)))
    if (op.isEmpty) c.checkedOps += 1
    if (c.tracer.enabled) c.untimed {
      val after = lakeFiles(c)
      add(c, "pipeline.files_written", after._1 - before._1)
      add(c, "pipeline.bytes_written", after._2 - before._2)
      c.layer("pipeline.retries") = retries.get.toDouble
    }
    if (out.isEmpty && op.isEmpty) c.fail(s"tick $tick threw")
    out.foreach { o =>
      try c.untimed(checkTick(c, o))
      catch { case e: Throwable => c.fail(s"tick $tick check threw: $e") }
    }
  }

  private def plainTick(c: Ctx, clock: Clock): TickOut = {
    val r = BikePipeline.run(c.spark, feeds, lake(c), clock, retry,
      servingSink = Some(sink(c)))
    drain(c)
    val byName = r.steps.map(s => s.name -> s.output).toMap
    TickOut(Map("ss" -> byName("transform_ss"), "si" -> byName("transform_si"),
      "lime" -> byName("transform_lime")), byName("enriched_stage"), r.servedCount,
      r.kmeansRows)
  }

  private def withRetry[T](body: => T): T = {
    var attempt = 0
    while (true) {
      attempt += 1
      try return body
      catch { case e: Throwable if attempt <= retry.retries =>
        retries.incrementAndGet()
        System.err.println(s"[perfbench] step retry after: ${e.getMessage}")
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def tracedTick(c: Ctx, clock: Clock): TickOut = c.span("op.tick") {
    val root = lake(c)
    val parent = c.tracer.current
    val branches = Seq(
      ("ss", Feed.VelibSs, BikeJobs.runSs _),
      ("si", Feed.VelibSi, BikeJobs.runSi _),
      ("lime", Feed.LimeFbs, BikeJobs.runLime _)).map { case (k, feed, transform) =>
      pool.submit(new Callable[(String, String)] {
        def call(): (String, String) = c.tracer.under(parent) {
          val drop = withRetry(c.span("pipeline.fetch")(
            Ingest.fetchStore(feeds, feed, root, clock)))
          k -> withRetry(c.span("bike.transform")(transform(c.spark, drop, root)))
        }
      })
    }
    val formatted = branches.map(_.get()).toMap
    val enriched = withRetry(c.span("enriched.stage")(Enriched.runStage(
      c.spark.read.parquet(formatted("ss")), c.spark.read.parquet(formatted("si")),
      c.spark.read.parquet(formatted("lime")), root)))
    val served = withRetry(c.span("serving.index")(Serving.indexJob(c.spark, root, sink(c))))
    val kmRows = withRetry(c.span("ml.kmeans") {
      val end = java.sql.Timestamp.from(clock.instant())
      val start = java.sql.Timestamp.from(clock.instant().minusSeconds(90 * 60))
      val df = c.spark.read.schema(BikeSchemas.enriched).parquet(enriched)
      val (result, _) = WeightedKMeans.run(df, start, end)
      val out = s"$root/usage/kmeans_results/"
      result.write.mode("overwrite").parquet(out)
      c.spark.read.parquet(out).count()
    })
    c.span("streaming.drain")(drain(c))
    TickOut(formatted, enriched, served, kmRows)
  }

  private def drain(c: Ctx): Unit =
    Streaming.ssStreamJob(c.spark, lake(c), s"${lake(c)}/_checkpoints/ss").awaitTermination()

  /** Formatted rows match the generated records, served rows match the
    * enriched rows, and K-Means returned rows. */
  private def checkTick(c: Ctx, o: TickOut): Unit = {
    val s = c.spark
    def agg(path: String, sumCol: String): (Long, Long) = {
      val r = s.read.parquet(path).agg(count(lit(1)), coalesce(sum(col(sumCol)), lit(0L)))
        .head()
      (r.getLong(0), r.getAs[Number](1).longValue)
    }
    def expectEq(what: String, got: Any, want: Any): Unit =
      if (got != want) c.fail(s"tick $tick: $what got $got, want $want")
    expectEq("formatted ss (rows, bikes)", agg(o.formatted("ss"), "num_bikes_available"),
      (Stations.toLong, feeds.ssBikes))
    expectEq("formatted si (rows, capacity)", agg(o.formatted("si"), "capacity"),
      (Stations.toLong, feeds.siCapacity))
    expectEq("formatted lime (rows, range)", agg(o.formatted("lime"), "current_range_meters"),
      (Bikes.toLong, feeds.limeRange))
    def keyHash(df: org.apache.spark.sql.DataFrame, key: org.apache.spark.sql.Column) = {
      val r = df.agg(count(lit(1)), coalesce(sum(pmod(xxhash64(key), lit(1000000007L))), lit(0L)))
        .head()
      (r.getLong(0), r.getLong(1))
    }
    val enriched = keyHash(s.read.parquet(o.enriched),
      concat(col("id"), lit("_"), col("time").cast("string")))
    val served = keyHash(s.read.parquet(s"${lake(c)}/serving/all_bike_data"), col("id_concat"))
    expectEq("served vs enriched (rows, key hash)", served, enriched)
    expectEq("served count reported", o.served, Some(enriched._1))
    if (enriched._1 != Stations + Bikes)
      c.fail(s"tick $tick: enriched rows ${enriched._1}, want ${Stations + Bikes}")
    if (o.kmeansRows <= 0) c.fail(s"tick $tick: K-Means returned no rows")
  }

  private def lakeFiles(c: Ctx): (Long, Long) = {
    val root = java.nio.file.Paths.get(lake(c))
    if (!java.nio.file.Files.exists(root)) (0L, 0L)
    else {
      val st = java.nio.file.Files.walk(root)
      try {
        var n = 0L
        var b = 0L
        st.filter(java.nio.file.Files.isRegularFile(_)).forEach { p =>
          n += 1; b += java.nio.file.Files.size(p)
        }
        (n, b)
      } finally st.close()
    }
  }

  private def add(c: Ctx, k: String, v: Double): Unit =
    c.layer(k) = c.layer.getOrElse(k, 0.0) + v

  override def finish(c: Ctx): Unit = {
    pool.shutdown()
    c.sizes("stations") = Stations
    c.sizes("bikes") = Bikes
    c.sizes("payload_bytes_per_tick") = feeds.payloadBytes.toDouble
    c.sizes("ticks") = tick
  }
}
