package graft.plans

import java.nio.charset.StandardCharsets.UTF_8

import graft.SparkSpec
import graft.protocol.Frames
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Pins [[FrameJson]] (behind `Frames.serializeFrame`) byte for byte to
  * the built-in spelling it replaced, `concat(op, "|", to_json(struct(..)))`,
  * over seeded adversarial rows: quotes, backslashes, every control
  * character, DEL, '/', multi-byte text, unpaired surrogates, invalid
  * UTF-8 made by casting binary to string, and null op/fields/seq —
  * under both `ignoreNullFields` values, compiled and interpreted. */
class FrameJsonSpec extends SparkSpec {
  private val Rows = 24000

  /** The replaced spelling, kept here as the reference. */
  private def builtIn(op: Column, c: Column, m: Column, s: Column, q: Column): Column =
    concat(op, lit("|"), to_json(struct(c.as("c"), m.as("m"), s.as("s"),
      q.cast(IntegerType).as("_q"))))

  private val textAtoms: Array[String] = Array("\"", "\\", "/", "\u007f", "é",
    "中", "😀", "\uD800", "\uDC00", "a", "Z", "0", " ", "{", "}",
    ":", ",", "|", "\u2028", "\uFFFD") ++ (0 until 0x20).map(_.toChar.toString)

  /** Bytes that probe the UTF-8 validator's edges: lead bytes of every
    * length, overlong and surrogate leads, continuation bytes at the
    * range limits, and bytes that never occur in UTF-8. */
  private val byteAtoms: Array[Int] = Array(0x00, 0x08, 0x1f, 0x22, 0x5c, 0x41,
    0x7f, 0x80, 0x8f, 0x90, 0x9f, 0xa0, 0xbf, 0xc0, 0xc1, 0xc2, 0xdf, 0xe0,
    0xe1, 0xec, 0xed, 0xee, 0xef, 0xf0, 0xf1, 0xf3, 0xf4, 0xf5, 0xf8, 0xfe, 0xff)

  /** Row layout: (op, c, m, s) as text, their binary twins (used in
    * place of the text when set), and seq. */
  private def rows(seed: Long): Seq[Row] = {
    val rng = new java.util.SplittableRandom(seed)
    def text(): String =
      if (rng.nextInt(10) == 0) null
      else Seq.fill(rng.nextInt(12))(textAtoms(rng.nextInt(textAtoms.length))).mkString
    def bytes(): Array[Byte] =
      if (rng.nextInt(3) != 0) null
      else {
        val b = new java.io.ByteArrayOutputStream
        for (_ <- 0 until rng.nextInt(10)) rng.nextInt(3) match {
          case 0 => b.write(byteAtoms(rng.nextInt(byteAtoms.length)))
          case 1 => b.write(textAtoms(rng.nextInt(textAtoms.length)).getBytes(UTF_8))
          case _ => b.write(rng.nextInt(256))
        }
        b.toByteArray
      }
    def seq(): Any = rng.nextInt(8) match {
      case 0 => null
      case 1 => Int.MinValue
      case 2 => Int.MaxValue
      case 3 => -rng.nextInt(1000)
      case _ => rng.nextInt(100)
    }
    // all fields null, under a null and a non-null op
    val fixed = Seq(Row(Seq.fill(9)(null): _*), Row(Seq("M") ++ Seq.fill(8)(null): _*))
    fixed ++ Seq.fill(Rows - fixed.size) {
      val op = if (rng.nextInt(20) == 0) null else Seq("M", "J", "é", "\"")(rng.nextInt(4))
      Row(op, text(), text(), text(), bytes(), bytes(), bytes(), bytes(), seq())
    }
  }

  private val schema = StructType(
    Seq("op", "c", "m", "s").map(StructField(_, StringType)) ++
    Seq("opb", "cb", "mb", "sb").map(StructField(_, BinaryType)) :+
    StructField("q", IntegerType))

  /** Partitioned input (not a LocalRelation, which the optimizer would
    * evaluate in the optimizer instead of in the mode under test). */
  private def input(s: SparkSession): DataFrame = {
    val df = s.createDataFrame(s.sparkContext.parallelize(rows(20261018L), 4), schema)
    def pick(f: String) = when(col(f + "b").isNotNull, col(f + "b").cast(StringType))
      .otherwise(col(f)).as(f)
    df.select(pick("op"), pick("c"), pick("m"), pick("s"), col("q"))
  }

  private def check(factoryMode: String, wholeStage: Boolean, ignoreNulls: Boolean): Unit = {
    val s = spark.newSession()
    s.conf.set("spark.sql.codegen.factoryMode", factoryMode)
    s.conf.set("spark.sql.codegen.wholeStage", wholeStage.toString)
    s.conf.set("spark.sql.jsonGenerator.ignoreNullFields", ignoreNulls.toString)
    val Seq(op, c, m, sd, q) = Seq("op", "c", "m", "s", "q").map(col)
    val in = input(s)
    val framed = in.select(
      Frames.serializeFrame(op, c, m, sd, q).cast(BinaryType).as("native"),
      builtIn(op, c, m, sd, q).cast(BinaryType).as("builtin"))
    val plan = framed.queryExecution.executedPlan
    assert(plan.exists(_.isInstanceOf[WholeStageCodegenExec]) == wholeStage,
      s"whole-stage codegen should be $wholeStage:\n$plan")
    val out = framed.collect().map(r =>
      (r.getAs[Array[Byte]](0), r.getAs[Array[Byte]](1)))
    assert(out.length == Rows)
    val bad = out.filterNot { case (a, b) => java.util.Arrays.equals(a, b) }
    def show(b: Array[Byte]) = if (b == null) "null" else new String(b, UTF_8)
    assert(bad.isEmpty, s"${bad.length} mismatches, e.g. " +
      bad.take(3).map { case (a, b) => s"native=${show(a)} builtin=${show(b)}" }.mkString("; "))
    // the rows reached the cases they are meant to probe
    assert(in.where(expr("NOT is_valid_utf8(c)")).count() > 1000)
    assert(out.count(_._2 == null) > 0)
    val frames = out.collect { case (_, b) if b != null => show(b) }
    for (probe <- Seq("\\\"", "\\\\", "\\u001F", "\\b", "\\n", "\uFFFD", "中",
        "\u007f", "/", "\"_q\":-2147483648"))
      assert(frames.exists(_.contains(probe)), s"no frame contains $probe")
    assert(frames.contains(if (ignoreNulls) "M|{}" else "M|{\"c\":null,\"m\":null,\"s\":null,\"_q\":null}"))
    assert(frames.exists(_.contains("\"c\":null")) != ignoreNulls)
  }

  for (ignoreNulls <- Seq(true, false)) {
    test(s"byte-identical to concat/to_json, compiled (ignoreNullFields=$ignoreNulls)") {
      check("CODEGEN_ONLY", wholeStage = true, ignoreNulls)
    }
    test(s"byte-identical to concat/to_json, interpreted (ignoreNullFields=$ignoreNulls)") {
      check("NO_CODEGEN", wholeStage = false, ignoreNulls)
    }
  }

  test("non-string fields fail analysis, naming the argument") {
    val e = intercept[Exception] {
      spark.range(1).select(Frames.serializeFrame(lit("M"), col("id"),
        lit("m"), lit("s"), lit(1))).collect()
    }
    assert(e.getMessage.contains("graft_frame_json"))
    assert(e.getMessage.contains("argument 2 is bigint"))
  }
}
