package graft.perfbench

import java.util.SplittableRandom
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.app.{MovieQueries, RatingsConverter}
import graft.ingest.IngestJob
import graft.reco.Recommender
import graft.users.UserService

/** Closed loop of two clients mirroring the reference Streamlit app:
  * one sends popular-by-genre, saved recommendations, user stats, recent
  * ratings and rating writes for Zipf-skewed users; the other sends
  * single-query ANN and hybrid retrieval interleaved with the churn of a
  * snapshot-log table (`TableChurn`). All serve from artefacts built at
  * set-up.
  */
final class ServeMix extends Scenario {
  val K = 10
  /** The app client's request sequence, repeated: one render of the
    * reference app's serving reads (popular movies, the user-stats block
    * with its recent ratings, saved recommendations; SURVEY.md section 3,
    * E3) and one rating. That each render carries one rating is assumed,
    * not measured.
    */
  val appSequence: Seq[String] = Seq("popular", "saved", "stats", "recent", "rate")
  val writeKinds: Set[String] = Set("rate")

  private var dir = ""
  private var basics: DataFrame = _
  private var ratings: DataFrame = _
  private var recs: DataFrame = _
  private var users: UserService = _
  private var userIds: Array[String] = Array.empty
  private var zipfCdf: Array[Double] = Array.empty
  private var poolIds: Array[String] = Array.empty
  private var genres: Array[String] = Array.empty
  private var queries: Array[Row] = Array.empty
  private var corpus: Array[(Long, Array[Float])] = Array.empty
  private var initialCounts: Map[String, Long] = Map.empty
  private var rmse = Double.NaN
  private var ingested = 0L
  private val written = new ConcurrentHashMap[String, AtomicLong]()
  private val clockMs = new AtomicLong(1700000000000L)
  private val vectorRows = new AtomicLong(0)

  /** An app client and a backend client (retrieval and table churn). */
  override def clients: Int = 2
  private val churn = new TableChurn

  /** The reference's own batch flow builds the serving tables: gz-TSV
    * ingest, candidate pool, rating synthesis, ALS train with holdout
    * RMSE, top-10 for every user, parquet persist. Then the ANN index
    * and the lexical statistics are built through their memos.
    */
  override def setup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    dir = s"${ctx.work}/serve"
    Files.rm(dir)
    val in = ctx.inputs
    val files = ctx.span("ingest.loadAll") {
      IngestJob.loadAll(spark, Map(
        "title_basics" -> s"$in/title_basics.tsv.gz",
        "title_ratings" -> s"$in/title_ratings.tsv.gz"), s"$dir/imdb")
    }
    ingested = files.map(_.rows).sum
    basics = spark.read.parquet(s"$dir/imdb/title_basics.parquet")
    ratings = spark.read.parquet(s"$dir/imdb/title_ratings.parquet")
    val userDf = spark.read.parquet(s"$in/users.parquet")
    ctx.span("reco.synth") {
      val pool = ctx.span("app.candidatePool") {
        MovieQueries.candidatePool(basics, ratings)
      }
      RatingsConverter.synthesize(userDf, pool, ctx.seed)
        .withColumn("ratedAt", timestamp_seconds(lit(1600000000L) +
          pmod(xxhash64(col("userId"), col("tconst")), lit(10000000L))))
        .write.parquet(s"$dir/user_ratings.parquet")
    }
    val (model, holdout) = ctx.span("reco.train") {
      Recommender.train(spark.read.parquet(s"$dir/user_ratings.parquet")
        .withColumnRenamed("tconst", "itemId"), Recommender.Config())
    }
    rmse = holdout
    ctx.span("reco.recommend") {
      Recommender.recommendAll(model, K)
        .select(col("userId"), col("itemId").as("tconst"),
          col("predicted").as("predictedRating"), col("rank"))
        .write.parquet(s"$dir/recommendations")
    }
    recs = spark.read.parquet(s"$dir/recommendations")
    users = new UserService(spark, dir,
      clock = () => new java.sql.Timestamp(clockMs.addAndGet(1000L)))
    queries = spark.read.parquet(s"${ctx.inputs}/ann_queries.parquet")
      .orderBy("q_id").collect()
    // the first ANN request builds the served IVF-PQ index
    ctx.span("memo.ivfpq") {
      ctx.engine.annTopK(queryFrame(ctx, queries.head, withText = false),
        topK = 5, excludeSelf = false).collect()
    }
    ctx.span("memo.lexStats") {
      graft.queries.TextOps.warmLexStats(spark, ctx.dataDir)
    }
    churn.setup(ctx)
  }

  /** Driver-side request inputs and the reference model; untimed. */
  private def loadInputs(ctx: Ctx): Unit = {
    val spark = ctx.spark
    userIds = spark.read.parquet(s"${ctx.inputs}/users.parquet")
      .select("userId").collect().map(_.getString(0)).sorted
    val w = userIds.indices.map(i => 1.0 / math.pow(i + 1, ZipfExponent))
    zipfCdf = w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
    poolIds = MovieQueries.candidatePool(basics, ratings).select("tconst")
      .collect().map(_.getString(0))
    genres = MovieQueries.genreVocabulary(basics).collect().map(_.getString(0))
    corpus = spark.read.parquet(s"${ctx.dataDir}/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    initialCounts = spark.read.parquet(s"$dir/user_ratings.parquet")
      .groupBy("userId").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  /** Skew of the user ids; assumed, no access log gives it. */
  val ZipfExponent = 1.1

  private def zipfUser(rng: SplittableRandom): String = {
    val i = java.util.Arrays.binarySearch(zipfCdf, rng.nextDouble())
    userIds(math.min(if (i >= 0) i else -i - 1, userIds.length - 1))
  }

  private def queryFrame(ctx: Ctx, q: Row, withText: Boolean): DataFrame = {
    import ctx.spark.implicits._
    val emb = q.getSeq[Float](2).toArray
    if (withText) Seq((q.getLong(0), q.getString(1), emb))
      .toDF("q_id", "q_text", "q_emb")
    else Seq((q.getLong(0), emb)).toDF("q_id", "q_emb")
  }

  /** One request; returns the rows it produced. */
  private def request(ctx: Ctx, kind: String, rng: SplittableRandom): Long = {
    val user = zipfUser(rng)
    kind match {
      case "popular" =>
        val g = genres(rng.nextInt(genres.length))
        ctx.span("app.popular") {
          MovieQueries.filterByGenre(
            MovieQueries.popularMovies(basics, ratings, limit = 100), g)
            .collect().length.toLong
        }
      case "saved" => ctx.span("app.saved") {
        MovieQueries.savedRecommendations(recs, basics, user).collect().length.toLong
      }
      case "stats" => ctx.span("users.read:stats") {
        users.userStats(user).collect().length.toLong
      }
      case "recent" => ctx.span("users.read:recent") {
        users.recentRatings(user).collect().length.toLong
      }
      case "rate" =>
        val tc = poolIds(rng.nextInt(poolIds.length))
        val stars = (1 + rng.nextInt(5)).toFloat
        ctx.span("users.write:addRating") { users.addRating(user, tc, stars) }
        written.computeIfAbsent(user, _ => new AtomicLong()).incrementAndGet()
        1L
      case "ann" =>
        val q = queries(rng.nextInt(queries.length))
        val n = ctx.span("vector.ann") {
          ctx.engine.annTopK(queryFrame(ctx, q, withText = false), topK = 5,
            excludeSelf = false).collect().length.toLong
        }
        vectorRows.addAndGet(n); n
      case "hybrid" =>
        val q = queries(rng.nextInt(queries.length))
        val n = ctx.span("vector.hybrid") {
          ctx.engine.hybridTopK(queryFrame(ctx, q, withText = true), topK = K)
            .collect().length.toLong
        }
        vectorRows.addAndGet(n); n
    }
  }

  /** One request of every read kind, concurrently (the set-up's first ANN
    * request already ran), then the two clients for `WarmupSeconds`.
    * Without the second part, the timed phase's speed varied with how
    * far the JIT had got: a run-to-run spread of about 20 %.
    */
  override def warmup(ctx: Ctx, res: PhaseResult): Unit = {
    loadInputs(ctx)
    churn.warmup(ctx)
    val reads = appSequence.filterNot(writeKinds) :+ "hybrid"
    val threads = reads.zipWithIndex.map {
      case (k, i) => new Thread(() => {
        request(ctx, k, new SplittableRandom(ctx.seed + i)); ()
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    run(ctx, System.nanoTime() + WarmupSeconds * 1000000000L, res)
  }

  val WarmupSeconds = 6

  /** The app client sends the app requests. The backend client
    * interleaves the retrieval requests (ANN takes ten app point queries'
    * time) with the table churn: ANN, two table operations, hybrid, two
    * table operations, a ratio assumed, not measured. Both walk fixed
    * sequences, so every run sends the same requests in the same order,
    * and the seed picks users, genres, queries, keys and values.
    */
  def run(ctx: Ctx, deadlineNs: Long, res: PhaseResult): Unit = {
    vectorRows.set(0L)
    churn.startPhase()
    def client(c: Int)(next: SplittableRandom => Unit) = new Thread(() => {
      val rng = new SplittableRandom(ctx.seed * 1009L + c)
      while (System.nanoTime() < deadlineNs) next(rng)
    }, s"perfbench-client-$c")
    val appOps = Iterator.continually(appSequence).flatten
    val backendOps = Iterator.continually(
      Seq("ann", "table", "table", "hybrid", "table", "table")).flatten
    val threads = Seq(
      client(0) { rng => val k = appOps.next(); timed(ctx, k, writeKinds(k), rng, res) },
      client(1) { rng =>
        backendOps.next() match {
          case "table" => churn.step(ctx, res)
          case k => timed(ctx, k, write = false, rng, res)
        }
      })
    threads.foreach(_.start())
    threads.foreach(_.join())
    res.layer("vector.result_rows") = vectorRows.get().toDouble
  }

  private def timed(ctx: Ctx, kind: String, write: Boolean, rng: SplittableRandom,
      res: PhaseResult): Unit = {
    val t0 = System.nanoTime()
    val ok = try { ctx.tracer.newRequest(request(ctx, kind, rng)); true }
    catch { case e: Exception =>
      res.fail(s"$kind request threw: $e"); false
    }
    val t1 = System.nanoTime()
    res.synchronized { res.ops += Op(kind, write, t0, t1, ok) }
  }

  def check(ctx: Ctx, res: PhaseResult): Unit = {
    val spark = ctx.spark
    // rating counts against the model: generated ratings plus the writes
    // the ALS build: RecoSpec's RMSE bound, exactly K ranked picks per rated user
    res.extra("rmse") = rmse
    res.check(rmse > 0.0 && rmse < 1.5, s"rmse $rmse outside (0, 1.5)")
    val shape = recs.groupBy("userId")
      .agg((count(lit(1)) === K && countDistinct("rank") === K &&
        min("rank") === 1 && max("rank") === K).as("ok"))
      .agg(count(lit(1)), sum(when(col("ok"), 0).otherwise(1))).head()
    res.check(shape.getLong(1) == 0,
      s"${shape.getLong(1)} users without exactly $K ranked recommendations")
    res.check(shape.getLong(0) == initialCounts.size,
      s"recommendations cover ${shape.getLong(0)} users, ratings ${initialCounts.size}")
    res.layer("ingest.rows") = ingested.toDouble

    // app responses for a sample of users, checked by the DuckDB twins
    val touched = written.keySet().asScala.toSeq.sorted.take(2)
    val sampleUsers = (touched ++ userIds.take(1)).distinct
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    def dump(kind: String, arg: String, df: DataFrame): Array[Row] = {
      val rows = df.collect()
      val cols = df.columns.toSeq
      out += Json.obj("kind" -> Json.str(kind), "arg" -> Json.str(arg),
        "rows" -> Json.arr(rows.toSeq.map(r =>
          Json.obj(cols.zipWithIndex.map { case (c, i) => c -> Json.value(r.get(i)) }: _*))))
      rows
    }
    sampleUsers.foreach { u =>
      val stats = dump("stats", u, users.userStats(u))
      val want = initialCounts.getOrElse(u, 0L) +
        Option(written.get(u)).map(_.get()).getOrElse(0L)
      res.check(stats.head.getLong(0) == want,
        s"user $u has ${stats.head.getLong(0)} ratings, model says $want")
      dump("recent", u, users.recentRatings(u))
      dump("saved", u, MovieQueries.savedRecommendations(recs, basics, u))
    }
    genres.take(1).foreach { g =>
      dump("popular", g, MovieQueries.filterByGenre(
        MovieQueries.popularMovies(basics, ratings, limit = 100), g))
    }
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"${ctx.work}/serve_checks.json"),
      Json.obj("dir" -> Json.str(dir), "checks" -> Json.arr(out.toSeq)))

    // recall@5 of the served IVF-PQ index against exact cosine
    import spark.implicits._
    val qdf = queries.toSeq.map(q => (q.getLong(0), q.getSeq[Float](2).toArray))
      .toDF("q_id", "q_emb")
    val got = ctx.engine.annTopK(qdf, topK = 5, excludeSelf = false)
      .select("q_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / math.sqrt(na * nb)
    }
    val exact = queries.toSeq.flatMap { q =>
      val qe = q.getSeq[Float](2).toArray
      corpus.map { case (id, e) => (id, cos(qe, e)) }
        .sortBy { case (id, c) => (-c, id) }.take(5).map(p => (q.getLong(0), p._1))
    }.toSet
    val recall = (got intersect exact).size.toDouble / exact.size
    res.extra("ann_recall") = recall
    res.check(recall >= 0.95, s"ANN recall@5 $recall below 0.95")
    churn.check(ctx, res)
    res.layer("users.ratings_files") =
      Files.countFiles(s"$dir/user_ratings.parquet", ".parquet").toDouble
  }
}
