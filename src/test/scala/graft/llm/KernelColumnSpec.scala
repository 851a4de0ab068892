package graft.llm

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.plans._
import org.apache.spark.sql.functions._

/** The native kernels are plain Columns: each one resolves in a fresh
  * session where nothing was registered and equals its
  * higher-order-function twin; its literal width is checked when the
  * Column is built; and no query source reaches a kernel by SQL name.
  */
class KernelColumnSpec extends SparkSpec {

  test("every kernel Column resolves in a fresh session and equals its HOF twin") {
    val fresh = spark.newSession()
    import fresh.implicits._

    val words = Seq(
      (1L, Seq("a", "b", "c", "a", "b")),
      (2L, Seq("x", null, "y", "z")),
      (3L, Seq("p", "q", "r"))).toDF("id", "w")
    val text = words.select(
      HofTwins.shingles(col("w"), 2).as("sh_hof"),
      TextOps.shinglesNative(col("w"), 2).as("sh"),
      HofTwins.minHashSignature(col("w"), 8).as("mh_hof"),
      TextOps.minHashNative(col("w"), 8).as("mh"),
      HofTwins.simHash(col("w")).as("simh_hof"),
      TextOps.simHashNative(col("w")).as("simh")).collect()
    assert(text.length == 3)
    text.foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1), "graft_shingles")
      assert(r.getSeq[Long](2) == r.getSeq[Long](3), "graft_minhash_sig")
      assert(r.getLong(4) == r.getLong(5), "graft_simhash64")
    }

    val emb = Seq((1L, Seq(1.0f, 0.5f)), (2L, Seq(0.0f, 2.0f)), (3L, Seq(-1.0f, 1.0f)))
      .toDF("vec_id", "embedding")
      .withColumn("nrm", sqrt(Vectors.dot(col("embedding"), col("embedding"))))
      .withColumn("cents", array(Seq((4L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f)),
        (9L, Seq(0.0f, 3.0f))).map { case (id, v) =>
          struct(lit(id).as("c_id"), typedLit(v).as("c_emb"),
            lit(math.sqrt(v.map(x => x.toDouble * x).sum)).as("c_nrm"))
        }: _*))
    val vec = emb.select(
      Vectors.dot(col("embedding"), col("embedding")).as("dot_hof"),
      Vectors.dotNative(col("embedding"), col("embedding")).as("dot"),
      (-array_max(transform(col("cents"), c => struct(
        (Vectors.dot(c.getField("c_emb"), col("embedding")) /
          (c.getField("c_nrm") * col("nrm"))).as("c_cos"),
        (-c.getField("c_id")).as("neg_id")))).getField("neg_id")).as("nc_hof"),
      NearestCentroid.column(col("embedding"), col("nrm"), col("cents")).as("nc"))
      .collect()
    assert(vec.length == 3)
    vec.foreach { r =>
      assert(r.getDouble(0) == r.getDouble(1), "graft_vec_dot")
      assert(r.getLong(2) == r.getLong(3), "graft_nearest_centroid")
    }
    // vec 2 ties between centroids 2 and 9 (same direction): lower id
    assert(vec(1).getLong(3) == 2L)

    val cents = Seq((0, Array(0.0, 0.0, 0.0)), (1, Array(10.0, 10.0, 10.0)),
      (2, Array(10.0, 10.0, 10.0)))
    val l2 = Seq((1L, Seq(1L, 2L, 3L)), (2L, Seq(9L, 11L, 10L)), (3L, Seq(6L, 6L, 6L)))
      .toDF("vec_id", "qv")
      .select(HofTwins.assignExprHof(cents).as("hof"),
        ClusterQueries.assignExpr(cents).as("native"))
      .collect()
    assert(l2.map(_.getInt(1)).toSeq == Seq(0, 1, 1), "graft_nearest_centroid_l2")
    l2.foreach(r => assert(r.getInt(0) == r.getInt(1), "graft_nearest_centroid_l2"))

    import SimilarityQueries.{PqDsub, PqM}
    val dim = PqM * PqDsub
    val codebook = for (m <- 0 until PqM; c <- 0 until 3)
      yield struct(lit(m).as("m"), lit(c).as("c_id"),
        typedLit(Seq.tabulate(PqDsub)(j => ((m + 1) * (c - 1) + j) / 4.0)).as("sub"))
    val pq = Seq((1L, Seq.tabulate(dim)(i => (i % 5).toFloat / 2)),
        (2L, Seq.tabulate(dim)(i => -(i % 3).toFloat)))
      .toDF("vec_id", "embedding")
      .withColumn("cb", array(codebook: _*))
      .withColumn("subs", SimilarityQueries.pqSubs)
      .select(HofTwins.pqBestHof.as("hof"),
        PqAssign.column(col("embedding"), col("cb")).as("native"))
      .collect()
    assert(pq.length == 2)
    pq.foreach(r => assert(r.getSeq[Any](0) == r.getSeq[Any](1), "graft_pq_assign"))
  }

  test("a width below 1 fails when the Column is built, naming the kernel") {
    val k = intercept[IllegalArgumentException](MinHashSig.column(col("w"), 0))
    assert(k.getMessage.contains(MinHashSig.Name), k.getMessage)
    val n = intercept[IllegalArgumentException](NGramShingles.column(col("w"), 0))
    assert(n.getMessage.contains(NGramShingles.Name), n.getMessage)
  }

  test("src/main reaches no kernel by SQL name and registers no session function") {
    val kernels = "FloatVectorDot|MinHashSig|SimHash64|NGramShingles|" +
      "NearestCentroid|NearestCentroidL2|PqAssign"
    val byName = "call_function\\(\\s*graft\\.plans".r
    val tempFunction = "createOrReplaceTempFunction".r
    val register = s"\\b($kernels)\\.register\\(".r
    assert(byName.findFirstIn("call_function(graft.plans.MinHashSig.Name, a)").isDefined)
    assert(register.findFirstIn("graft.plans.NearestCentroidL2.register(s)").isDefined)
    assert(register.findFirstIn("TopKPerKey.register(spark)").isEmpty)
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
      .iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
    assert(files.exists(_.endsWith("TextHashKernels.scala")), "scan found no sources")
    val sites = files.flatMap { f =>
      val text = java.nio.file.Files.readString(f)
      val inPlans = f.getParent.endsWith(java.nio.file.Paths.get("graft", "plans"))
      val rules = if (inPlans) Seq(byName, tempFunction)
        else Seq(byName, tempFunction, register)
      rules.flatMap(_.findAllMatchIn(text).map(m => s"$f: ${m.matched}"))
    }
    assert(sites.isEmpty,
      s"kernels reached through the session registry:\n${sites.mkString("\n")}")
  }
}
