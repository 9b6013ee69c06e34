package perfbench

import graft.api.{BucketedParquetCollection, Collection, ParquetCollection, Query}
import graft.query.Filter
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** `session`: one client in a closed loop against three collections
  * imported at set-up (orders, documents, embeddings). The arguments of
  * every call come from the seed.
  */
object SessionWorkload {
  val NOrders = 20000L
  val NCust = 2000L
  val NDocs = 3000L
  val NVecs = 2000L
  val K = 10
  /** Two set-ups a run: a warm one costs about 7 s and the first,
    * cold one about 12 s, which bounds the run's wall time.
    */
  val Setups = 2
  /** One block of the closed loop: 9 reads, 6 searches and 3 writes
    * (50/33/17 %), every read and search kind at least twice.
    * Each half runs in a seeded order; the document insert between the
    * halves stales the trigram index, so one trigram search of every
    * block finds it fresh and one falls back to an inline build. Every
    * later block starts by re-attaching the index (untimed), so each
    * block starts fresh. Runs hold whole blocks only, so every run has
    * the same mix whatever the number of blocks.
    */
  val FirstHalf: Seq[String] = Seq("read.find", "read.find", "read.facets", "read.get",
    "read.find_by_key", "search.bm25", "search.trigram", "search.ivf", "write.upsert")
  val SecondHalf: Seq[String] = Seq("read.find", "read.facets", "read.get", "read.find_by_key",
    "search.bm25", "search.trigram", "search.ivf", "write.insert_ivf")
  def block(rng: scala.util.Random): Seq[String] =
    rng.shuffle(FirstHalf) ++ Seq("write.insert_bm25") ++ rng.shuffle(SecondHalf)

  final class Colls(ctx: Ctx, val root: String) {
    val orders = new BucketedParquetCollection(ctx.spark, s"$root/orders", "orders", "o_orderkey", 16)
    val docs = new ParquetCollection(ctx.spark, s"$root/documents", "documents")
    val embs = new ParquetCollection(ctx.spark, s"$root/embeddings", "embeddings")
  }

  /** What the session has written and been told succeeded. */
  final class Acked {
    val orderPrice = mutable.Map.empty[Long, Double]
    val docIds = mutable.Set.empty[Long]
    val vecIds = mutable.Set.empty[Long]
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val in = ctx.dir("input")
    val g = new Gen(spark, ctx.seed)
    ctx.phase("inputs") {
      g.orders(NOrders, NCust).coalesce(1).write.json(s"$in/orders.jsonl")
      g.documents(NDocs, nearDupFrac = 0.05).coalesce(1).write.json(s"$in/documents.jsonl")
      g.write(g.embeddings(NVecs), in, "embeddings")
    }
    ctx.metrics("input_rows") = (NOrders + NDocs + NVecs).toDouble
    ctx.metrics("input_mb") = dirBytes(in) / 1e6

    // set-up (import + index builds) repeated into fresh roots; the
    // last one serves the timed loop after one call of every kind
    var colls: Colls = null
    val setupS = (0 until Setups).map { r =>
      val t0 = System.nanoTime()
      colls = setup(ctx, in, ctx.dir(s"colls_$r"))
      (System.nanoTime() - t0) / 1e9
    }
    ctx.metrics("setup_s") = Stats.median(setupS)
    val w0 = System.nanoTime()
    warmUp(ctx, colls)
    ctx.metrics("warmup_s") = (System.nanoTime() - w0) / 1e9

    val acked = new Acked
    val w = new Writes
    var stale = 0
    var trigram = 0
    val recalls = mutable.ArrayBuffer.empty[Double]
    var opId = 0
    // whole blocks until the timed calls (not the checks between them)
    // add up to the run length
    val loopT0 = System.nanoTime()
    var blocks = 0
    while (ctx.busyNs / 1e9 < ctx.seconds) {
      if (blocks > 0) ctx.trace.quiet(colls.docs.attachIndex("doc_id", "text"))
      blocks += 1
      block(ctx.rng).foreach { kind =>
        if (kind == "search.trigram") {
          trigram += 1
          if (!trigramFresh(colls)) stale += 1
        }
        op(ctx, colls, acked, w, kind, opId).foreach(recalls += _)
        opId += 1
      }
    }
    val loopS = (System.nanoTime() - loopT0) / 1e9
    val all = ctx.allLatencies
    ctx.metrics("work_per_s") = all.size / (all.sum / 1000)
    for (cls <- Seq("read", "search", "write")) {
      val xs = ctx.latencies(cls)
      ctx.metrics(s"session.${cls}_p50_ms") = Stats.median(xs)
      ctx.metrics(s"session.${cls}_p90_ms") = Stats.pct(xs, 90)
      ctx.notes += f"session $cls: ${xs.size} samples"
    }
    ctx.metrics("session.write_amp") = if (w.userBytes > 0) w.diskBytes.toDouble / w.userBytes else 0.0
    ctx.metrics("api.bytes_per_write") = if (w.n > 0) w.diskBytes.toDouble / w.n else 0.0
    if (recalls.nonEmpty) ctx.metrics("session.vector_recall") = recalls.sum / recalls.size
    ctx.metrics("index.stale_fallback_frac") = if (trigram == 0) 0.0 else stale.toDouble / trigram
    ctx.notes += f"session: $blocks blocks, ${all.size} ops in $loopS%.1f s wall (${ctx.busyNs / 1e9}%.1f s in calls)"

    // every acknowledged write is visible to freshly opened collections
    val fresh = new Colls(ctx, colls.root)
    ctx.metrics("api.files_at_end") = fileCount(colls.root).toDouble
    ctx.phase("fresh reads")(verifyAcked(ctx, fresh, acked))
  }

  private def trigramFresh(c: Colls): Boolean = {
    val stamp = Paths.get(c.root, "documents", "_index_text", "_SRC_VERSION")
    val cur = Paths.get(c.root, "documents", "_CURRENT")
    Files.exists(stamp) && Files.readString(stamp).trim == Files.readString(cur).trim
  }

  def setup(ctx: Ctx, in: String, root: String): Colls = {
    val c = new Colls(ctx, root)
    val t = ctx.trace
    t.span("io.import") {
      c.orders.replace(graft.io.Formats.read(ctx.spark, s"$in/orders.jsonl", "jsonl"))
      c.docs.importFile(s"$in/documents.jsonl", "jsonl")
      c.embs.importFile(s"$in/embeddings.parquet", "parquet")
    }
    t.span("index.bm25_build")(c.docs.attachBm25Index("doc_id", "text"))
    t.span("index.trigram_build")(c.docs.attachIndex("doc_id", "text"))
    t.span("ann.ivf_build")(c.embs.attachVectorIndex("vec_id", "embedding"))
    c
  }

  /** One untimed call of every read and search kind. */
  private def warmUp(ctx: Ctx, c: Colls): Unit = {
    val coll = new Collection("orders", c.orders.df)
    coll.find(Filter.eq("o_orderstatus", "O")).limit(5).collect()
    coll.query(Query(where = Filter.eq("o_orderstatus", "F"),
      facetSlots = Seq("o_orderpriority"), limit = 5)).rows.collect()
    c.orders.findByKey(1L).collect()
    c.docs.searchBm25Indexed("text", "spark join", K).collect()
    c.docs.search("doc_id", "text", "spark join", K).collect()
    c.embs.searchVector("embedding", Seq.fill(Gen.dim)(0.1), K).collect()
  }

  /** Trigram-cosine top-k of the current snapshot, computed in plain
    * Scala: the engine's hash twin (`TrigramIndexer.queryVector`)
    * applied to every document, scored, rounded and ordered as
    * `Search.searchTrigram` does. It shares no code with the index
    * build or the search plan, so a stale or wrong posting shows.
    */
  private def trigramTopK(docs: DataFrame, q: String): Seq[(Long, Double)] = {
    import graft.index.TrigramIndexer.queryVector
    val qv = queryVector(q)
    val qNorm = math.sqrt(qv.values.map(c => c.toDouble * c).sum)
    docs.select("doc_id", "text").collect().toSeq.flatMap { r =>
      val dv = queryVector(r.getString(1))
      val dot = dv.map { case (b, n) => n * qv.getOrElse(b, 0L) }.sum
      val nrm2 = dv.values.map(n => n * n).sum
      if (dot <= 0) None
      else Some(r.getLong(0) -> BigDecimal(dot / (math.sqrt(nrm2.toDouble) * qNorm))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.sortBy { case (id, score) => (-score, id) }.take(K)
  }

  /** (id, score) pairs of a top-k answer, in rank order. */
  private def ranking(rs: Array[Row]): Seq[(Long, Double)] =
    rs.map(r => (r.getLong(0), r.getDouble(1))).toSeq

  /** Collect `df`, splitting its time into planning and execution. */
  private def rows(ctx: Ctx, df: => DataFrame): Array[Row] = {
    val d = df
    ctx.trace.span("query.plan")(d.queryExecution.executedPlan)
    ctx.trace.span("query.exec")(d.collect())
  }

  private def priceFilter(ctx: Ctx): Filter = {
    val status = Seq("O", "F", "P")(ctx.rng.nextInt(3))
    val lo = 1000.0 + ctx.rng.nextInt(480) * 1000.0
    Filter.eq("o_orderstatus", status) && Filter.gte("o_totalprice", lo) &&
      Filter.lt("o_totalprice", lo + 20000.0)
  }

  private def queryText(ctx: Ctx): String =
    Seq.fill(2 + ctx.rng.nextInt(2))(Gen.vocab(ctx.rng.nextInt(Gen.vocab.size)))
      .filterNot(graft.text.TextFunctions.stopwords.contains).mkString(" ") match {
      case "" => "spark"
      case q => q
    }

  /** Run one timed call of `kind` and check its answer; an IVF search
    * returns its recall against the exact top-k.
    */
  private def op(ctx: Ctx, c: Colls, acked: Acked, w: Writes, kind: String,
      opId: Int): Option[Double] = {
    val t = ctx.trace
    kind match {
      case "read.find" =>
        val f = priceFilter(ctx)
        ctx.timed(kind, opId) {
          t.span("api.find")(rows(ctx, c.orders.find(f)))
        }.foreach { got =>
          val snap = c.orders.df
          val want = snap.filter(Filter.bind(f, snap.schema).toColumn).count()
          ctx.check(kind, opId)(Checks.sameCounts(Map("rows" -> got.length.toLong), Map("rows" -> want)),
            s"find: ${got.length} rows, plain filter $want")
        }
        None
      case "read.facets" =>
        val f = priceFilter(ctx)
        val slots = Seq("o_orderpriority", "o_orderstatus")
        ctx.timed(kind, opId) {
          t.span("query.facets") {
            val r = new Collection("orders", c.orders.df).query(Query(where = f, facetSlots = slots, limit = 20))
            (r.numRows, r.facetCounts.map { case (k, v) => k -> v.collect() }, rows(ctx, r.rows))
          }
        }.foreach { case (n, facets, _) =>
          // a slot the filter constrains is counted without its own
          // predicate (faceted-search exclusion); the free slot's counts
          // sum to the match count
          val snap = c.orders.df
          slots.foreach { s =>
            val fs = f.without(s).getOrElse(Filter.True)
            val filtered = snap.filter(Filter.bind(fs, snap.schema).toColumn)
            val want = filtered.groupBy(col(s).cast("string")).count().collect()
              .map(r => r.getString(0) -> r.getLong(1)).toMap
            val got = facets(s).map(r => r.getString(0) -> r.getLong(1)).toMap
            ctx.check(kind, opId)(Checks.sameCounts(got, want), s"query facet $s: $got != $want")
            if (fs == f) ctx.check(kind, opId)(Checks.sameCounts(Map("rows" -> n), Map("rows" -> want.values.sum)),
              s"query: numRows $n != ${want.values.sum}")
          }
        }
        None
      case "read.get" =>
        val ids = Seq.fill(5)(ctx.rng.nextInt(NOrders.toInt).toLong)
        ctx.timed(kind, opId) {
          t.span("api.get")(rows(ctx, new Collection("orders", c.orders.df).get("o_orderkey", ids)))
        }.foreach { a =>
          val keys = a.map(_.getAs[Long]("o_orderkey")).toSeq
          ctx.check(kind, opId)(Checks.sameKeys(keys, ids), s"get: keys $keys != $ids")
        }
        None
      case "read.find_by_key" =>
        val id = ctx.rng.nextInt(NOrders.toInt).toLong
        ctx.timed(kind, opId) {
          t.span("api.get")(rows(ctx, c.orders.findByKey(id)))
        }.foreach { b =>
          val keys = b.map(_.getAs[Long]("o_orderkey")).toSeq
          ctx.check(kind, opId)(Checks.sameKeys(keys, Seq(id)), s"findByKey($id): keys $keys")
        }
        None

      case "search.bm25" =>
        val q = queryText(ctx)
        ctx.timed(kind, opId) {
          t.span("index.bm25_search")(rows(ctx, c.docs.searchBm25Indexed("text", q, K)))
        }.foreach { got =>
          val want = new Collection("documents", c.docs.df).searchBm25("text", q, K)
            .select("doc_id", "score").collect()
          ctx.check(kind, opId)(Checks.sameRanking(ranking(got), ranking(want)),
            s"bm25 '$q': indexed top-k differs")
        }
        None
      case "search.trigram" =>
        // read your own writes: once documents were inserted, search for
        // their marker word, so a search served from a stale index misses
        // them and the check below fails
        val q = w.docMarker.getOrElse(queryText(ctx))
        ctx.timed(kind, opId) {
          t.span("index.trigram_search")(rows(ctx, c.docs.search("doc_id", "text", q, K)))
        }.foreach { got =>
          ctx.check(kind, opId)(Checks.sameRanking(ranking(got), trigramTopK(c.docs.df, q)),
            s"trigram '$q': top-k differs from the current snapshot's")
        }
        None
      case "search.ivf" =>
        val qv = Seq.tabulate(Gen.dim)(_ => ctx.rng.nextDouble() - 0.5)
        ctx.timed(kind, opId) {
          t.span("ann.ivf_search")(rows(ctx, c.embs.searchVector("embedding", qv, K)))
        }.filter(_ => t.on).map { got =>
          // recall is a per-layer metric: traced runs only
          val exact = c.embs.df.select(col("vec_id"),
              graft.functions.VectorFunctions.cosine(col("embedding").cast("array<double>"),
                typedLit(qv)).as("s"))
            .orderBy(col("s").desc, col("vec_id")).limit(K).collect().map(_.getLong(0)).toSet
          got.map(_.getLong(0)).count(exact.contains).toDouble / K
        }
      case _ => write(ctx, c, acked, w, kind, opId); None
    }
  }

  final class Writes {
    var n = 0
    var diskBytes = 0L
    var userBytes = 0L
    var nextDoc = NDocs
    var nextVec = NVecs
    var nextOrder = NOrders
    /** A word only the latest inserted documents contain. */
    var docMarker: Option[String] = None
  }

  private def write(ctx: Ctx, c: Colls, acked: Acked, w: Writes, kind: String, opId: Int): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val t = ctx.trace
    val diskBefore = dirBytes(c.root)
    val (delta, ok) = kind match {
      case "write.upsert" =>
        // up to 3 existing keys re-priced, 2 new keys
        val price = ctx.rng.nextInt(100000).toDouble + 0.5
        val keys = Seq.fill(3)(ctx.rng.nextInt(NOrders.toInt).toLong).distinct
        val snap = c.orders.df
        val old = snap.filter(col("o_orderkey").isin(keys: _*)).collect().toSeq
        val fresh = Seq(w.nextOrder, w.nextOrder + 1).map(k => (old.head, k))
        w.nextOrder += 2
        val pkAt = snap.schema.fieldIndex("o_orderkey")
        val priceAt = snap.schema.fieldIndex("o_totalprice")
        val delta = spark.createDataFrame(java.util.Arrays.asList(
          (old.map(r => (r, r.getLong(pkAt))) ++ fresh).map { case (r, k) =>
            Row.fromSeq(r.toSeq.updated(pkAt, k).updated(priceAt, price))
          }: _*), snap.schema)
        val ok = ctx.timed(kind, opId) {
          t.span("api.upsert")(c.orders.upsert(delta))
        }
        if (ok.isDefined) (old.map(_.getLong(pkAt)) ++ fresh.map(_._2)).foreach(acked.orderPrice(_) = price)
        (delta, ok.isDefined)
      case "write.insert_bm25" =>
        val ids = (w.nextDoc until w.nextDoc + 3).toSeq
        w.nextDoc += 3
        val marker = "zq" + Seq.fill(5)(('a' + ctx.rng.nextInt(26)).toChar).mkString
        val docs = ids.map(i => (i, (marker +: Seq.fill(30)(Gen.vocab(ctx.rng.nextInt(Gen.vocab.size)))).mkString(" ")))
        val delta = c.docs.df.limit(0).unionByName(
          docs.toDF("doc_id", "text").withColumn("lang", lit("en")).withColumn("source", lit("src0"))
            .withColumn("n_chars", length(col("text")).cast("long")))
        val ok = ctx.timed(kind, opId) {
          t.span("index.bm25_insert")(c.docs.insertBm25Indexed(delta, "doc_id", "text"))
        }
        if (ok.isDefined) {
          acked.docIds ++= ids
          w.docMarker = Some(marker)
        }
        (delta, ok.isDefined)
      case "write.insert_ivf" =>
        val ids = (w.nextVec until w.nextVec + 3).toSeq
        w.nextVec += 3
        val vs = ids.map(i => (i, Seq.fill(Gen.dim)((ctx.rng.nextDouble() - 0.5).toFloat), 0))
        val delta = vs.toDF("vec_id", "embedding", "label")
        val ok = ctx.timed(kind, opId) {
          t.span("ann.ivf_insert")(c.embs.insertIndexed(delta, "vec_id", "embedding"))
        }
        if (ok.isDefined) acked.vecIds ++= ids
        (delta, ok.isDefined)
    }
    if (ok) {
      w.n += 1
      w.diskBytes += dirBytes(c.root) - diskBefore
      w.userBytes += delta.collect().map(_.json.getBytes("UTF-8").length.toLong).sum
    }
  }

  private def verifyAcked(ctx: Ctx, c: Colls, acked: Acked): Unit = {
    val prices = c.orders.find(Filter.in("o_orderkey", acked.orderPrice.keys.toSeq))
      .select("o_orderkey", "o_totalprice").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    def present(df: DataFrame, idCol: String, ids: Iterable[Long]): Map[Long, Double] =
      df.filter(col(idCol).isin(ids.toSeq: _*)).select(idCol).collect().map(_.getLong(0) -> 0.0).toMap
    val lost = Seq(
      "upserted orders" -> Checks.lostWrites(acked.orderPrice.toMap, prices),
      "inserted documents" -> Checks.lostWrites(acked.docIds.map(_ -> 0.0).toMap,
        present(c.docs.df, "doc_id", acked.docIds)),
      "inserted vectors" -> Checks.lostWrites(acked.vecIds.map(_ -> 0.0).toMap,
        present(c.embs.df, "vec_id", acked.vecIds)))
    lost.foreach { case (what, n) =>
      ctx.checkOp(s"fresh_read.$what")(n == 0, s"fresh read: $n acknowledged $what missing or stale")
    }
  }

  private def walk[T](root: String)(f: java.util.stream.Stream[java.nio.file.Path] => T): T = {
    val s = Files.walk(Paths.get(root))
    try f(s) finally s.close()
  }

  def dirBytes(root: String): Long =
    walk(root)(_.filter(p => Files.isRegularFile(p)).mapToLong(p => Files.size(p)).sum())

  def fileCount(root: String): Long =
    walk(root)(_.filter(p => Files.isRegularFile(p)).count())
}
