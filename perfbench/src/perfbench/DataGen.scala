package perfbench

import scala.collection.mutable
import scala.collection.parallel.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded inputs. Every value is a hash of (seed, salt, row key), so the
  * same seed gives byte-identical tables whatever the partitioning, and
  * the engine sees only what this object writes.
  *
  * The fixture tables carry the schemas the engine's loaders read
  * (region … embeddings); sizes scale with `sf` like the TPC-H-shaped
  * fixtures (lineitem = 6M × sf rows).
  */
final class DataGen(spark: SparkSession, seed: Long) {

  /** Uniform in [0, 1) from the seed, a salt and row keys. */
  def u(salt: String, keys: Column*): Column =
    pmod(xxhash64((lit(seed) +: lit(salt) +: keys): _*), lit(1000000007L))
      .cast("double") / 1000000007.0

  def pick(salt: String, key: Column, n: Long): Column =
    pmod(xxhash64(lit(seed), lit(salt), key), lit(n))

  private def oneOf(salt: String, key: Column, xs: Seq[String]): Column =
    element_at(array(xs.map(lit): _*), (pick(salt, key, xs.size.toLong) + 1).cast("int"))

  val vocab: Seq[String] = Seq("a", "the", "key", "agg", "row", "scan", "slow",
    "fast", "table", "value", "part", "hash", "merge", "batch", "spark",
    "line", "sort", "window", "data", "column", "join", "small", "big",
    "customer", "query", "order", "group", "stream", "filter", "vector",
    "index", "shard", "log", "commit", "segment", "bloom", "cache", "plan",
    "task", "stage")

  private def write(df: => DataFrame, dir: String, name: String, parts: Int)(
      implicit pending: mutable.ArrayBuffer[(String, () => Unit)]): Unit =
    pending += name -> (() =>
      df.coalesce(parts).write.mode("overwrite").parquet(s"$dir/$name.parquet"))

  /** Writes the named fixture tables under `dir`. */
  def fixtures(dir: String, sf: Double, tables: Set[String]): Unit = {
    implicit val pending: mutable.ArrayBuffer[(String, () => Unit)] = mutable.ArrayBuffer.empty
    def n(base: Double): Long = DataGen.rows(base, sf)
    val nCust = n(150000); val nSupp = n(10000); val nPart = n(200000)
    val nOrd = n(1500000); val nLine = n(6000000); val nEv = n(1000000)
    val nUsers = n(15000); val nDocs = n(DataGen.DocsBase); val nVec = n(50000)
    val id = col("id")
    val day0 = to_timestamp(lit("1995-01-01 00:00:00"))
    write(spark.range(5).select(id.cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE",
        "MIDDLE EAST").map(lit): _*), (id + 1).cast("int")).as("r_name")),
      dir, "region", 1)
    write(spark.range(25).select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id.cast("string")).as("n_name"),
      (id % 5).cast("int").as("n_regionkey")), dir, "nation", 1)
    write(spark.range(nCust).select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      pick("c_nat", id, 25).cast("int").as("c_nationkey"),
      round(u("c_bal", id) * 10999.0 - 999.0, 2).as("c_acctbal"),
      oneOf("c_seg", id, Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
        "HOUSEHOLD", "MACHINERY")).as("c_mktsegment")), dir, "customer", 1)
    write(spark.range(nSupp).select(id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      pick("s_nat", id, 25).cast("int").as("s_nationkey"),
      round(u("s_bal", id) * 10999.0 - 999.0, 2).as("s_acctbal")),
      dir, "supplier", 1)
    write(spark.range(nPart).select(id.as("p_partkey"),
      concat_ws(" ", oneOf("p_adj", id, Seq("small", "red", "blue", "hot",
        "old", "large", "green", "cold")), oneOf("p_noun", id, Seq("ring",
        "widget", "bolt", "gear", "gizmo", "plate", "nut", "valve")))
        .as("p_name"),
      concat(lit("Brand#"), (pick("p_brand", id, 25) + 1).cast("string"))
        .as("p_brand"),
      oneOf("p_type", id, Seq("ECONOMY", "SMALL", "MEDIUM", "PROMO",
        "LARGE", "STANDARD")).as("p_type"),
      (pick("p_size", id, 50) + 1).cast("int").as("p_size"),
      round(lit(900.0) + (id % 1000) / 10.0, 2).as("p_retailprice")),
      dir, "part", 1)
    write(spark.range(nOrd).select(id.as("o_orderkey"),
      pick("o_cust", id, nCust).as("o_custkey"),
      oneOf("o_status", id, Seq("F", "O", "P")).as("o_orderstatus"),
      round(u("o_price", id) * 500000.0 + 900.0, 2).as("o_totalprice"),
      (day0 + make_dt_interval(pick("o_date", id, 2400).cast("int")))
        .as("o_orderdate"),
      oneOf("o_prio", id, Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
        "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority")),
      dir, "orders", 2)
    write(spark.range(nLine).select(pick("l_ord", id, nOrd).as("l_orderkey"),
      pick("l_part", id, nPart).as("l_partkey"),
      pick("l_supp", id, nSupp).as("l_suppkey"),
      (pick("l_line", id, 7) + 1).cast("int").as("l_linenumber"),
      (pick("l_qty", id, 50) + 1).cast("double").as("l_quantity"),
      round(u("l_price", id) * 104000.0 + 900.0, 2).as("l_extendedprice"),
      (pick("l_disc", id, 11) / 100.0).as("l_discount"),
      (pick("l_tax", id, 9) / 100.0).as("l_tax"),
      oneOf("l_rf", id, Seq("A", "N", "R")).as("l_returnflag"),
      oneOf("l_ls", id, Seq("O", "F")).as("l_linestatus"),
      (day0 + make_dt_interval(pick("l_ship", id, 2500).cast("int") + 1))
        .as("l_shipdate")), dir, "lineitem", 4)
    // events: ids in time order over 30 days, with per-event jitter
    write(spark.range(nEv).select(id.as("event_id"),
      timestamp_micros((lit(1704067200L) * 1000000L +
        (id * (30L * 86400L * 1000000L / nEv)) +
        (u("e_jit", id) * (30L * 86400L * 1000000L / nEv)).cast("long")))
        .as("ts"),
      pick("e_user", id, nUsers).as("user_id"),
      oneOf("e_type", id, Seq("view", "click", "signup", "purchase",
        "error")).as("event_type"),
      round(u("e_val", id) * 490.0 + 0.01, 2).as("value"),
      format_string("{\"k\": %d}", pick("e_k", id, 100)).as("props")),
      dir, "events", 2)
    write(withNearDups(documentsFrame(nDocs, "d"), DataGen.DupEvery, nDocs), dir, "documents", 2)
    write(vectors(nVec, "v").withColumnRenamed("id", "vec_id")
      .withColumn("label", pick("v_label", col("vec_id"), 10).cast("int")),
      dir, "embeddings", 2)
    // independent small jobs: written concurrently, like Bench's index builds
    pending.filter { case (n, _) => tables(n) }.par.foreach(_._2())
  }

  /** Word-soup documents (doc_id, text, lang, source, n_chars). */
  def documentsFrame(nDocs: Long, salt: String): DataFrame = {
    val id = col("id")
    val words = array(vocab.map(lit): _*)
    spark.range(nDocs)
      .withColumn("n_words", (pick(salt + "_len", id, 80) + 8).cast("int"))
      .select(id.as("doc_id"),
        concat_ws(" ", transform(sequence(lit(1), col("n_words")), i =>
          element_at(words, (pmod(xxhash64(lit(seed), lit(salt + "_w"), id, i),
            lit(vocab.size.toLong)) + 1).cast("int")))).as("text"),
        when(u(salt + "_lang", id) < 0.44, "en")
          .otherwise(oneOf(salt + "_lang2", id, Seq("zh", "de", "fr", "es")))
          .as("lang"),
        concat(lit("src"), (id % 20).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** 64-dim float vectors: a per-label centre plus uniform noise. */
  def vectors(n: Long, salt: String, idBase: Long = 0L): DataFrame = {
    val id = col("id")
    spark.range(idBase, idBase + n).select(id,
      transform(sequence(lit(0), lit(63)), j =>
        ((pmod(xxhash64(lit(seed), lit(salt), id, j), lit(20001L)) - 10000L)
          .cast("double") / 40000.0 +
          (pmod(xxhash64(lit(seed), lit("centre"),
            pmod(xxhash64(lit(seed), lit(salt + "_label"), id), lit(10L)), j),
            lit(20001L)) - 10000L).cast("double") / 80000.0)
          .cast("float")).as("embedding"))
  }

  /** Adds a near-duplicate of every `every`-th doc under id + `dupBase`:
    * the copy keeps the text and appends a short tail, so it contains the
    * original (containment ≥ 0.8).
    */
  def withNearDups(docs: DataFrame, every: Int, dupBase: Long): DataFrame = {
    val dups = docs.filter(col("doc_id") % every === 0)
      .withColumn("text", concat_ws(" ", col("text"), lit("stage commit"),
        oneOf("dd_tail", col("doc_id"), vocab)))
      .withColumn("doc_id", col("doc_id") + dupBase)
      .withColumn("n_chars", length(col("text")).cast("long"))
    docs.unionByName(dups)
  }
}

object DataGen {
  /** Rows of a table that has `base` rows at sf 1. */
  def rows(base: Double, sf: Double): Long = math.max(1L, math.round(base * sf))
  val DocsBase = 50000.0
  /** Every DupEvery-th document gets a near-duplicate under id + the document count. */
  val DupEvery = 25
}
