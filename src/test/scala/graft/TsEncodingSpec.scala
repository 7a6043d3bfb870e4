package graft

import java.nio.file.Files

import graft.functions.Fns
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The events testdata has shipped in different physical `ts` encodings
  * across driver generations (TIMESTAMP(NANOS) read as long via
  * `nanosAsLong`, TIMESTAMP(MICROS) read as TIMESTAMP_NTZ, and a plain
  * int64 of epoch-nanos). Round 6 proved that assuming one encoding breaks
  * the entire events surface the moment the generator changes — this spec
  * pins the loader contract: all encodings normalize to the SAME
  * TIMESTAMP_NTZ values.
  */
class TsEncodingSpec extends SparkSpec {
  import spark.implicits._

  // 2021-03-04 05:06:07.123456 UTC and one hour later, as epoch-nanos.
  private val microsA = 1614834367123456L
  private val microsB = microsA + 3600L * 1000000L

  private def writeAndLoad(writer: String => Unit): org.apache.spark.sql.DataFrame = {
    val dir = Files.createTempDirectory("graft_tsenc").toString
    writer(s"$dir/events.parquet")
    Fns.normalizeTsNtz(Tables.events(spark, dir), "ts")
  }

  test("raw int64 epoch-nanos ts normalizes to TIMESTAMP_NTZ") {
    val df = writeAndLoad { path =>
      Seq(("u1", microsA * 1000L), ("u2", microsB * 1000L))
        .toDF("user_id", "ts").write.parquet(path)
    }
    assert(df.schema("ts").dataType === TimestampNTZType)
    val got = df.orderBy($"user_id").select(date_format($"ts", "yyyy-MM-dd HH:mm:ss.SSSSSS"))
      .as[String].collect().toSeq
    assert(got === Seq("2021-03-04 05:06:07.123456", "2021-03-04 06:06:07.123456"))
  }

  test("TIMESTAMP(MICROS) NTZ ts (current testdata encoding) passes through") {
    val df = writeAndLoad { path =>
      Seq(("u1", microsA), ("u2", microsB)).toDF("user_id", "us")
        .select($"user_id", timestamp_micros($"us").cast("timestamp_ntz").as("ts"))
        .write.parquet(path)
    }
    assert(df.schema("ts").dataType === TimestampNTZType)
    val got = df.orderBy($"user_id").select(date_format($"ts", "yyyy-MM-dd HH:mm:ss.SSSSSS"))
      .as[String].collect().toSeq
    assert(got === Seq("2021-03-04 05:06:07.123456", "2021-03-04 06:06:07.123456"))
  }

  test("TIMESTAMP(MICROS) instant-adjusted ts reinterprets to the same NTZ wall clock") {
    val df = writeAndLoad { path =>
      // TimestampType under the UTC session: parquet stores
      // isAdjustedToUTC=true micros; the wall-clock fields match NTZ.
      Seq(("u1", microsA), ("u2", microsB)).toDF("user_id", "us")
        .select($"user_id", timestamp_micros($"us").as("ts"))
        .write.parquet(path)
    }
    assert(df.schema("ts").dataType === TimestampNTZType)
    val got = df.orderBy($"user_id").select(date_format($"ts", "yyyy-MM-dd HH:mm:ss.SSSSSS"))
      .as[String].collect().toSeq
    assert(got === Seq("2021-03-04 05:06:07.123456", "2021-03-04 06:06:07.123456"))
  }

  test("all three encodings agree row-for-row through the loader") {
    def write(path: String, mk: org.apache.spark.sql.Column => org.apache.spark.sql.Column): Unit =
      Seq(("u1", microsA), ("u2", microsB)).toDF("user_id", "us")
        .select($"user_id", mk($"us").as("ts")).write.parquet(path)
    val asLong = writeAndLoad(p => write(p, c => (c * 1000L)))
    val asNtz = writeAndLoad(p => write(p, c => timestamp_micros(c).cast("timestamp_ntz")))
    val asLtz = writeAndLoad(p => write(p, c => timestamp_micros(c)))
    assert(asLong.except(asNtz).isEmpty && asNtz.except(asLong).isEmpty)
    assert(asLong.except(asLtz).isEmpty && asLtz.except(asLong).isEmpty)
  }

  test("embeddings loader normalizes double-element vectors to the array<float> contract") {
    val dir = Files.createTempDirectory("graft_embenc").toString
    Seq((1L, Seq(1.25, -2.5), 0), (2L, Seq(0.5, 3.0), 1))
      .toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    val df = Tables.embeddings(spark, dir)
    assert(df.schema("embedding").dataType === ArrayType(FloatType, true))
    // the compiled float kernel accepts the normalized column
    val dot = df.where($"vec_id" === 1L)
      .select(graft.plans.Exprs.dot($"embedding", $"embedding")).head.getDouble(0)
    assert(math.abs(dot - (1.25 * 1.25 + 2.5 * 2.5)) < 1e-6)
  }

  test("an unsupported ts dtype fails loudly, not silently") {
    val df = Seq(("u1", "not-a-ts")).toDF("user_id", "ts")
    intercept[IllegalArgumentException] { Fns.normalizeTsNtz(df, "ts") }
  }
}
