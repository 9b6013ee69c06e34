package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generator. Every value is a pure function of
  * (seed, row id, column salt) through `xxhash64`, so the same seed
  * gives byte-identical tables whatever the partitioning, and the
  * program under test only ever sees the written parquet files.
  *
  * The shapes follow the engine's test tables: a TPC-H-like star
  * (nation, customer, orders, lineitem), an
  * `events` stream, `documents` over a small vocabulary and 64-dim
  * clustered `embeddings`.
  */
final class Gen(spark: SparkSession, seed: Long) {

  private def h(salt: Int, cols: Column*): Column =
    xxhash64((lit(seed) +: lit(salt) +: cols): _*)

  /** Uniform integer in [0, n). */
  private def int(salt: Int, n: Long, cols: Column*): Column =
    pmod(h(salt, cols: _*), lit(n))

  /** Uniform double in [0, 1). */
  private def unit(salt: Int, cols: Column*): Column =
    h(salt, cols: _*).bitwiseAND(lit((1L << 52) - 1)).cast("double") / lit((1L << 52).toDouble)

  private def pick(salt: Int, values: Seq[String], cols: Column*): Column =
    element_at(array(values.map(lit): _*), (int(salt, values.size, cols: _*) + 1).cast("int"))

  private def money(salt: Int, lo: Double, hi: Double, cols: Column*): Column =
    round(lit(lo) + unit(salt, cols: _*) * lit(hi - lo), 2)

  /** A day between `fromDay` and `fromDay + days` (epoch days) as TIMESTAMP_NTZ. */
  private def day(salt: Int, fromDay: Long, days: Long, cols: Column*): Column =
    timestamp_micros((lit(fromDay) + int(salt, days, cols: _*)) * lit(86400000000L))
      .cast("timestamp_ntz")

  private val id = col("id")
  private def rows(n: Long): DataFrame = spark.range(n).toDF("id")

  private val day1995 = 9131L // 1995-01-01

  def nation: DataFrame = rows(25).select(id.cast("int").as("n_nationkey"),
    concat(lit("NATION_"), id).as("n_name"), pmod(id, lit(5)).cast("int").as("n_regionkey"))

  def customer(n: Long): DataFrame = rows(n).select(id.as("c_custkey"),
    format_string("Customer#%09d", id).as("c_name"),
    int(1, 25, id).cast("int").as("c_nationkey"),
    money(2, -999.99, 9999.99, id).as("c_acctbal"),
    pick(3, Gen.segments, id).as("c_mktsegment"))

  def orders(n: Long, nCust: Long): DataFrame = rows(n).select(id.as("o_orderkey"),
    int(31, nCust, id).as("o_custkey"),
    pick(32, Seq("O", "F", "P"), id).as("o_orderstatus"),
    money(33, 1000.0, 500000.0, id).as("o_totalprice"),
    day(34, day1995, 2404, id).as("o_orderdate"),
    pick(35, Gen.priorities, id).as("o_orderpriority"))

  def lineitem(n: Long, nOrders: Long, nPart: Long, nSupp: Long): DataFrame =
    rows(n).select(int(41, nOrders, id).as("l_orderkey"),
      int(42, nPart, id).as("l_partkey"),
      int(43, nSupp, id).as("l_suppkey"),
      (int(44, 7, id) + 1).cast("int").as("l_linenumber"),
      (int(45, 50, id) + 1).cast("double").as("l_quantity"),
      money(46, 900.0, 105000.0, id).as("l_extendedprice"),
      (int(47, 11, id).cast("double") / 100).as("l_discount"),
      (int(48, 9, id).cast("double") / 100).as("l_tax"),
      pick(49, Seq("A", "N", "R"), id).as("l_returnflag"),
      pick(50, Seq("O", "F"), id).as("l_linestatus"),
      day(51, day1995 + 1, 2500, id).as("l_shipdate"))

  /** `n` events over 30 days in id order, `users` distinct users. */
  def events(n: Long, users: Long): DataFrame = {
    val start = 1704067200000000L // 2024-01-01
    val step = 30L * 86400000000L / n
    rows(n).select(id.as("event_id"),
      timestamp_micros(lit(start) + id * lit(step) + int(61, step, id))
        .cast("timestamp_ntz").as("ts"),
      int(62, users, id).as("user_id"),
      pick(63, Seq("view", "click", "purchase", "signup", "error"), id).as("event_type"),
      round(-log(lit(1.0) - unit(64, id)) * lit(60.0), 2).as("value"),
      format_string("{\"k\": %d}", int(65, 100, id)).as("props"))
  }

  /** `n` documents; a `nearDupFrac` share copy an earlier document with a
    * few tokens replaced, and an `exactDupFrac` share copy one verbatim,
    * so near- and exact-dedup both have real work.
    */
  def documents(n: Long, nearDupFrac: Double = 0.0, exactDupFrac: Double = 0.0): DataFrame = {
    val vocab = array(Gen.vocab.map(lit): _*)
    val r = unit(71, id)
    val isExact = r < lit(exactDupFrac)
    val isNear = !isExact && r < lit(exactDupFrac + nearDupFrac)
    val src = when((isExact || isNear) && id > 0, greatest(lit(0L), id - lit(1L) - int(72, 40, id)))
      .otherwise(id)
    val editRate = when(isNear, lit(0.06)).otherwise(lit(0.0))
    val nToks = (int(73, 91, src) + 10).cast("int")
    val toks = transform(sequence(lit(1), nToks), i =>
      when(unit(74, id, i) < editRate, element_at(vocab, (int(75, Gen.vocab.size, id, i) + 1).cast("int")))
        .otherwise(element_at(vocab, (int(76, Gen.vocab.size, src, i) + 1).cast("int"))))
    val text = array_join(toks, " ")
    rows(n).select(id.as("doc_id"), text.as("text"),
      pick(77, Gen.langs, id).as("lang"),
      concat(lit("src"), int(78, 20, id)).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** `copies` salted copies of `docs` (copy 0 unchanged): every
    * non-stopword token of copy i gets the two-letter tag "q<a+i>". The
    * tag is stopword-preserving and letters-only, so quality-gate
    * signals keep their pass rate, and copies never share shingles,
    * so per-copy near-dup structure replicates without cross-copy
    * duplicates. A fixed-length tag keeps the mean token length inside
    * the gate on every copy.
    */
  def salted(docs: DataFrame, copies: Int): DataFrame = {
    val stop = array(graft.text.TextFunctions.stopwords.map(lit): _*)
    (0 until copies).map { i =>
      if (i == 0) docs
      else {
        val tag = "q" + ('a' + i - 1).toChar
        docs.withColumn("doc_id", col("doc_id") + lit(i.toLong * Gen.copyOffset))
          .withColumn("text", array_join(transform(split(col("text"), " "),
            t => when(array_contains(stop, t), t).otherwise(concat(t, lit(tag)))), " "))
          .withColumn("n_chars", length(col("text")).cast("long"))
      }
    }.reduce(_ unionByName _)
  }

  /** `n` 64-dim vectors around 10 label centroids; a `dupFrac` share is
    * an earlier vector plus a small jitter (a semantic near-duplicate).
    */
  def embeddings(n: Long, dupFrac: Double = 0.0): DataFrame = {
    val isDup = unit(81, id) < lit(dupFrac) && id > 0
    val src = when(isDup, greatest(lit(0L), id - lit(1L) - int(82, 50, id))).otherwise(id)
    val label = int(83, 10, src)
    val noise = when(isDup, lit(0.02)).otherwise(lit(0.0))
    val vec = transform(sequence(lit(0), lit(Gen.dim - 1)), j =>
      (unit(84, label, j) - lit(0.5) + (unit(85, src, j) - lit(0.5)) * lit(0.8) +
        (unit(86, id, j) - lit(0.5)) * noise).cast("float"))
    rows(n).select(id.as("vec_id"), vec.as("embedding"), label.cast("int").as("label"))
  }

  /** Write `df` to `dir/name.parquet` as one file. */
  def write(df: DataFrame, dir: String, name: String): String = {
    val path = s"$dir/$name.parquet"
    df.coalesce(1).write.mode("overwrite").parquet(path)
    path
  }
}

object Gen {
  val dim = 64
  val copyOffset = 10000000L
  val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val langs = Seq("en", "en", "en", "de", "es", "fr", "zh")
  val vocab = Seq("a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order", "part", "query",
    "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the", "value",
    "vector", "window")
}
