package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Fence for the round-12 regression: the driver's testdata generator has
  * shipped `events.ts` under two different physical parquet encodings
  * (TIMESTAMP(NANOS) — which Spark 4 reads as a nanos long under the legacy
  * conf — and TIMESTAMP(MICROS) — read as TIMESTAMP_NTZ). `SparkEntry
  * .events()` must dispatch on the read schema and yield byte-identical
  * rows for the same instants regardless of which generation is on disk.
  */
class EventsLoaderSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // Known instants (UTC micros since epoch), chosen off any second boundary
  // so a wrong unit (ms vs us vs ns) can't accidentally collide.
  private val micros = Seq(
    1704067200000000L, // 2024-01-01T00:00:00Z
    1704067201234567L,
    1710000000999999L)

  private def fixtureRows = micros.zipWithIndex.map { case (us, i) =>
    (i.toLong, us, i.toLong * 10, s"type$i", i * 1.5, s"""{"k":$i}""")
  }

  /** Write the events fixture with `ts` encoded per `mode`, return the
    * dir (deleted on JVM exit).
    */
  private def writeFixture(mode: String): String = {
    val p = java.nio.file.Files.createTempDirectory(s"events_$mode")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(): Unit
      }
      rm(p.toFile)
    }))
    val dir = p.toString
    val base = fixtureRows
      .toDF("event_id", "ts_us", "user_id", "event_type", "value", "props")
    val withTs = mode match {
      // The nanos generation: Spark reads parquet TIMESTAMP(NANOS) as a
      // plain nanos LongType under spark.sql.legacy.parquet.nanosAsLong —
      // an INT64 column produces the identical read schema, which is what
      // events() dispatches on.
      case "nanos-long" => base.withColumn("ts", col("ts_us") * 1000L)
      // The micros generation as pyarrow writes it (isAdjustedToUTC=false
      // → TIMESTAMP_NTZ on read).
      case "micros-ntz" =>
        base.withColumn("ts",
          timestamp_micros(col("ts_us")).cast(TimestampNTZType))
      // Defensive: a future generator writing isAdjustedToUTC=true.
      case "micros-utc" => base.withColumn("ts", timestamp_micros(col("ts_us")))
    }
    withTs.select("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  private def load(dir: String): Seq[Row] =
    fixtures.Tables.events(spark, dir)
      .withColumn("ts", unix_micros(col("ts")))
      .orderBy("event_id").collect().toSeq

  test("events() yields identical rows across all three ts encodings") {
    // write each fixture ONCE; check schema and rows from the same dir
    val dirs = Seq("nanos-long", "micros-ntz", "micros-utc")
      .map(m => m -> writeFixture(m))
    dirs.foreach { case (m, d) =>
      val dt = fixtures.Tables.events(spark, d).schema("ts").dataType
      // ts must land as TimestampType in every mode (downstream
      // unix_micros, window, and as-of joins all assume it)
      assert(dt == TimestampType, s"mode=$m read back as $dt")
    }
    val byMode = dirs.map { case (m, d) => m -> load(d) }.toMap
    val expected = micros
    byMode.foreach { case (m, rows) =>
      assert(rows.map(_.getLong(1)) == expected, s"mode=$m instants differ")
    }
    assert(byMode("nanos-long") == byMode("micros-ntz"))
    assert(byMode("micros-ntz") == byMode("micros-utc"))
  }
}
