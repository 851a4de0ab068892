package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Row-amplified testdata clone for the scaling-curve harness
  * (VERDICT r12 task 1): writes a ×FACTOR copy of an sf dir whose
  * facts GROW while staying semantically plausible, so empirical
  * runtime/row-volume exponents can be fitted one decade past sf0.1.
  *
  * Replication is NOT naive row duplication — that would manufacture
  * quadratic candidate volume the real corpus doesn't have (10
  * byte-identical copies of every doc collapse every LSH band to hot
  * buckets; 10 copies of every embedding pile into one centroid).
  * Instead each replica r gets:
  *   - all primary/foreign keys offset by r·(max+1), consistently
  *     across fact tables (orders↔lineitem, customer↔orders), so
  *     referential integrity and join fan-outs are preserved;
  *   - region/nation copied once — TPC-H dimensions do not scale;
  *   - documents word-salted per replica (every token suffixed
  *     `~x<r>`), so replicas share no shingles: the duplicate /
  *     near-duplicate structure per replica matches the base corpus
  *     instead of multiplying; n_chars re-derived from the new text;
  *   - embeddings cyclically dimension-rotated by r (norm-preserving),
  *     scattering replicas across centroid space instead of stacking
  *     10 identical points per cell;
  *   - events keep their time range (same hours, ×FACTOR density) —
  *     the realistic shape for a busier deployment.
  *
  * Usage: AmplifyTestdata <srcSfDir> <outDir> [factor=10]
  */
object AmplifyTestdata {

  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/graft_amp/sf1")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // "documents" as 4th arg: documents-only clone — the phash/text
    // scaling ladders read only `documents`, and a full ×1000 clone
    // would carry ~17 GB of unused fact tables
    if (args.lift(3).contains("documents"))
      amplifyDocuments(spark, src, out, factor)
    else amplify(spark, src, out, factor)
    spark.stop()
  }

  /** Documents-only ×factor clone (same replica salting as
    * [[amplify]], which delegates here for the documents table). */
  def amplifyDocuments(spark: SparkSession, src: String, out: String,
      factor: Int): Unit = {
    val documents = spark.read.parquet(s"$src/documents.parquet")
    val dBase =
      documents.agg(max(col("doc_id").cast("long"))).head.getLong(0) + 1L
    (0 until factor).map { r =>
      val salted =
        if (r == 0) documents
        else documents
          // suffix every whitespace token: replica vocabularies are
          // disjoint, so no cross-replica shingle/near-dup structure
          .withColumn("text",
            regexp_replace(col("text"), "(\\S+)", "$1~x" + r))
          .withColumn("n_chars",
            coalesce(length(col("text")).cast("long"), lit(0L)))
      salted.withColumn("doc_id", col("doc_id") + lit(r * dBase))
    }.reduce(_ unionByName _)
      .repartition(8)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
  }

  def amplify(spark: SparkSession, src: String, out: String,
      factor: Int): Unit = {
    // raw reads (not Tables.*): the clone must preserve the on-disk
    // schema byte-for-byte so Tables' NTZ/nanos shims see the same
    // input shape when queries later read the amplified dir
    def raw(t: String) = spark.read.parquet(s"$src/$t.parquet")
    def write(df: DataFrame, t: String, parts: Int = 8): Unit =
      df.repartition(parts).write.mode("overwrite")
        .parquet(s"$out/$t.parquet")

    def keyBase(df: DataFrame, key: String): Long =
      df.agg(max(col(key).cast("long"))).head.getLong(0) + 1L

    /** Union of `factor` replicas of `df`, each transformed by
      * `remap(replica)`. Replica 0 is the identity corpus. */
    def replicate(df: DataFrame)(remap: (DataFrame, Int) => DataFrame)
        : DataFrame =
      (0 until factor).map(r => remap(df, r)).reduce(_ unionByName _)

    // dimensions: fixed-cardinality at every TPC-H scale factor
    write(raw("region"), "region", parts = 1)
    write(raw("nation"), "nation", parts = 1)

    val customer = raw("customer")
    val supplier = raw("supplier")
    val part = raw("part")
    val orders = raw("orders")
    val lineitem = raw("lineitem")
    val cBase = keyBase(customer, "c_custkey")
    val sBase = keyBase(supplier, "s_suppkey")
    val pBase = keyBase(part, "p_partkey")
    val oBase = keyBase(orders, "o_orderkey")

    write(replicate(customer)((df, r) =>
      df.withColumn("c_custkey", col("c_custkey") + lit(r * cBase))),
      "customer")
    write(replicate(supplier)((df, r) =>
      df.withColumn("s_suppkey", col("s_suppkey") + lit(r * sBase))),
      "supplier")
    write(replicate(part)((df, r) =>
      df.withColumn("p_partkey", col("p_partkey") + lit(r * pBase))),
      "part")
    write(replicate(orders)((df, r) => df
      .withColumn("o_orderkey", col("o_orderkey") + lit(r * oBase))
      .withColumn("o_custkey", col("o_custkey") + lit(r * cBase))),
      "orders")
    write(replicate(lineitem)((df, r) => df
      .withColumn("l_orderkey", col("l_orderkey") + lit(r * oBase))
      .withColumn("l_partkey", col("l_partkey") + lit(r * pBase))
      .withColumn("l_suppkey", col("l_suppkey") + lit(r * sBase))),
      "lineitem", parts = 16)

    val events = raw("events")
    val eBase = keyBase(events, "event_id")
    val uBase = events.agg(max(col("user_id"))).head.getLong(0) + 1L
    write(replicate(events)((df, r) => df
      .withColumn("event_id", col("event_id") + lit(r * eBase))
      .withColumn("user_id", col("user_id") + lit(r * uBase))),
      "events", parts = 16)

    amplifyDocuments(spark, src, out, factor)

    val embeddings = raw("embeddings")
    val vBase = keyBase(embeddings, "vec_id")
    val dim = embeddings.select(size(col("embedding"))).head.getInt(0)
    require(factor <= 2 * dim,
      s"embedding replica transforms are distinct only up to 2*dim = " +
        s"${2 * dim} (rotation × sign); factor $factor would stack " +
        "replicas back onto the same points")
    write(replicate(embeddings)((df, r) => {
      val k = r % dim
      val rotated =
        if (r == 0) df
        else {
          // cyclic dim-rotation by r mod dim: norm-preserving, replica
          // points land elsewhere in space instead of stacking per
          // centroid; past one full wrap (r >= dim — the ×100 clone)
          // the second cycle is additionally NEGATED, still
          // norm-preserving and distinct from every first-cycle replica
          val rot =
            if (k == 0) col("embedding")
            else expr(s"concat(slice(embedding, ${k + 1}, " +
              s"size(embedding) - $k), slice(embedding, 1, $k))")
          df.withColumn("embedding",
            if (r / dim % 2 == 1) transform(rot, x => -x) else rot)
        }
      rotated.withColumn("vec_id", col("vec_id") + lit(r * vBase))
    }), "embeddings")
  }
}
