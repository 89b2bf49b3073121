package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.core.TransientCache
import graft.queries.Relational

/** The 17 TPC-H-shaped rows of `Relational.queries` as ops: each op builds
  * one row's DataFrame (`queries.build`, the driver-eager part) and
  * collects its result (`queries.action`). There is no warm-up pass: the
  * first pass is timed cold, as a batch job meets it. Each row's last
  * result is written, untimed, as Parquet beside the row's DuckDB oracle
  * SQL, for the oracle check run.py makes after the JVM exits. */
final class QueryRows extends Workload {
  private val rows: Seq[(String, (SparkSession, String) => DataFrame)] =
    Relational.queries.toSeq.filter(_._1.matches("q\\d+_.*")).sortBy(_._1)

  def warm(c: Ctx): Unit = {
    val sql = rows.flatMap { case (r, _) =>
      SparkEntry.oracleSql.get(r).map(q => Main.jstr(r) + ":" + Main.jstr(q))
    }
    Files.createDirectories(Paths.get(s"${c.work}/check"))
    Files.write(Paths.get(s"${c.work}/check/oracle_sql.json"),
      sql.mkString("{", ",\n", "}").getBytes(StandardCharsets.UTF_8))
  }

  def pass(c: Ctx, op: OpRec => Unit): Unit =
    rows.foreach { case (r, fn) =>
      val t0 = System.nanoTime()
      val out =
        try c.span(s"op.$r") {
          val df = c.span("queries.build")(fn(c.spark, c.data))
          Some((c.span("queries.action")(df.collect()), df.schema))
        } catch { case e: Throwable =>
          System.err.println(s"[perfbench] $r threw: ${e.getMessage}")
          None
        }
      val t = (System.nanoTime() - t0) / 1e9
      c.span("core.cache_drain")(TransientCache.drain())
      op(OpRec(r, t, out.isDefined))
      out.foreach { case (result, schema) => c.untimed {
        c.spark.createDataFrame(java.util.Arrays.asList(result: _*), schema)
          .coalesce(1).write.mode("overwrite").parquet(s"${c.work}/check/$r")
      }}
    }
}
