package graft

import graft.apps.{AppSchema, QueryService}
import graft.pipeline.AppModels
import graft.sources.CsvIngest
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** End-to-end reference parity: CSV ingest → drift union → cast →
  * train (K-Means + RF) → API projection → the 8 serving queries. */
class AppPipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** A small apps fixture exercising: null score/installs/price rows
    * (validity filter), an unknown genre (handleInvalid=skip), duplicate
    * titles, tied scores (FIXTURES.md §1 guidance). */
  private def writeFixtureCsv(): String = {
    val dir = Files.createTempDirectory("graft-apps").toFile
    dir.deleteOnExit()
    val rng = new scala.util.Random(11)
    val genres = Seq("Tools", "Games", "Social", "Education", "Finance")
    val rows = (0 until 60).map { i =>
      val genre = if (i == 59) "UnknownGenre" else genres(i % genres.size)
      val score = if (i % 10 == 9) "" else f"${1.0 + rng.nextDouble() * 4}%.2f"
      val installs = if (i % 15 == 14) "" else (1000L * (i + 1)).toString
      val price = if (i % 20 == 19) "" else f"${rng.nextDouble() * 5}%.2f"
      s"""app.id.$i,"App ${if (i % 7 == 0) "Dup Title" else s"Number $i"}",$genre,$score,$installs,$price,"Dev $i, Inc.",dev$i"""
    }
    val header = "appId,title,genre,score,minInstalls,price,developer,developerId"
    val f = new java.io.File(dir, "batch_1.csv")
    val w = new java.io.PrintWriter(f)
    w.println(header); rows.foreach(w.println); w.close()
    dir.getAbsolutePath
  }

  private lazy val apps: DataFrame = {
    val raw = CsvIngest.readBatchDir(spark, writeFixtureCsv())
    CsvIngest.enforceOrder(raw)
  }

  test("csv ingest reads quoted fields and keeps everything string-typed") {
    assert(apps.count() == 60)
    assert(apps.schema.fields.forall(_.dataType.typeName == "string"))
    val dev = apps.filter(org.apache.spark.sql.functions.col("appId") === "app.id.3")
      .select("developer").collect()(0).getString(0)
    assert(dev == "Dev 3, Inc.", "quoted comma must survive")
  }

  test("permissive typed read quarantines malformed rows instead of failing") {
    val dir = java.nio.file.Files.createTempDirectory("graft-corrupt").toFile
    dir.deleteOnExit()
    val f = new java.io.File(dir, "batch.csv")
    val w = new java.io.PrintWriter(f)
    w.println("appId,score,minInstalls")
    w.println("app.a,4.5,1000")
    w.println("app.b,not-a-number,2000") // untypeable score
    w.println("app.c,3.9,500")
    w.close()
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("appId",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("score",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("minInstalls",
        org.apache.spark.sql.types.LongType)))
    val (good, bad, raw) = CsvIngest.readTypedWithQuarantine(
      spark, dir.getAbsolutePath, schema)
    try {
      assert(good.count() == 2, "clean rows parse")
      assert(good.schema("score").dataType.typeName == "double")
      val lines = bad.collect().map(_.getString(0))
      assert(lines.length == 1 && lines(0).contains("not-a-number"),
        "the malformed raw line is preserved for replay")
    } finally raw.unpersist()
  }

  test("canonical column order is enforced with nulls for missing columns") {
    val prefix = AppSchema.canonicalColumns.filter(apps.columns.contains)
    assert(apps.columns.take(prefix.length).toSeq == prefix)
    assert(apps.columns.contains("icon_path"), "missing canonical cols added")
  }

  test("drift union reconciles batches with different column sets") {
    import spark.implicits._
    val a = Seq(("x", "1")).toDF("appId", "score")
    val b = Seq(("y", "Games")).toDF("appId", "genre")
    val u = CsvIngest.driftUnion(Seq(a, b))
    assert(u.columns.toSet == Set("appId", "score", "genre"))
    assert(u.count() == 2)
    assert(u.filter($"appId" === "y").select("score").collect()(0).isNullAt(0))
  }

  test("two-phase cast types only the mapped columns that exist") {
    val typed = CsvIngest.castColumns(apps, AppSchema.trainingCastMap)
    assert(typed.schema("score").dataType.typeName == "double")
    assert(typed.schema("minInstalls").dataType.typeName == "long")
    assert(typed.schema("title").dataType.typeName == "string")
  }

  test("training pipeline: validity filter, 5 clusters, finite RMSE, skip drops unknown genres") {
    AppModels.train(apps) match {
      case Left(err) => fail(err)
      case Right(r) =>
        val clusters = r.clusterCounts.collect().map(_.getInt(0))
        assert(clusters.length <= 5)
        assert(r.rmse > 0 && r.rmse < 5, s"rmse=${r.rmse}")
        // handleInvalid="skip" DROPS unseen-genre rows at transform —
        // the reference does the same (spark_script.py:77), which is why
        // its final API data can be smaller than the input
        assert(r.scored.count() == 59)
        val unknown = r.scored
          .filter(org.apache.spark.sql.functions.col("genre") === "UnknownGenre")
          .count()
        assert(unknown == 0,
          "unknown-genre rows are removed by handleInvalid=skip")
    }
  }

  test("min-rows gate aborts training") {
    assert(AppModels.train(apps.limit(5)).isLeft)
  }

  test("pipeline models survive a save/load round trip (MLWritable surface)") {
    val r = AppModels.train(apps).toOption.get
    val dir = Files.createTempDirectory("graft-models").toFile
    dir.deleteOnExit()
    val kmPath = s"${dir.getAbsolutePath}/app_model_kmeans"
    r.kmeansModel.write.overwrite().save(kmPath)
    val reloaded = org.apache.spark.ml.PipelineModel.load(kmPath)
    val typed = CsvIngest.castColumns(apps, AppSchema.trainingCastMap)
    val a = r.kmeansModel.transform(typed).select("appId", "cluster")
      .collect().map(x => x.getString(0) -> x.getInt(1)).toMap
    val b = reloaded.transform(typed).select("appId", "cluster")
      .collect().map(x => x.getString(0) -> x.getInt(1)).toMap
    assert(a == b, "reloaded model must reproduce cluster assignments")
  }

  /** The trained fixture saved and read back as the API serves it. */
  private lazy val served: DataFrame = {
    val r = AppModels.train(apps).toOption.get
    val tmp = Files.createTempDirectory("graft-api").toFile
    tmp.deleteOnExit()
    val path = s"${tmp.getAbsolutePath}/api_app_info_test"
    AppModels.saveApiData(r.scored, path)
    CsvIngest.castColumns(spark.read.parquet(path).cache(), AppSchema.servingCastMap)
  }

  /** 40 matching (title, appId, score) triples, each stored 1-3 times with
    * different install counts (ties across triples too), shuffled over 4
    * partitions, next to non-matching rows that would outrank every one
    * of them. */
  private lazy val dupTriples = {
    val rng = new scala.util.Random(7)
    (0 until 40).flatMap { i =>
      Seq.fill(1 + i % 3)((s"Dup App $i", f"app.$i%02d", 3.5f, rng.nextInt(20) * 1000L))
    } ++ (0 until 20).map(i => (s"Other $i", s"other.$i", 1.0f, 1000000L))
  }
  private lazy val dupTripleFrame: DataFrame = {
    import spark.implicits._
    new scala.util.Random(7).shuffle(dupTriples)
      .toDF("title", "appId", "score", "minInstalls").repartition(4)
  }

  test("the 8 serving queries behave like app.py") {
    val svc = new QueryService(served)

    val (n, cols, sample) = svc.checkData
    assert(n == 59 && cols.contains("cluster") && sample.count() == 3)

    val cats = svc.categories.collect().map(_.getString(0))
    assert(cats.sameElements(cats.sorted) && cats.contains("Games"))

    val sugg = svc.searchSuggestions("dup").collect()
    assert(sugg.nonEmpty && sugg.length <= 15)
    assert(sugg.forall(_.getString(0).toLowerCase.contains("dup")))
    intercept[IllegalArgumentException](svc.searchSuggestions("d"))

    assert(svc.appDetailsById("app.id.3").count() == 1)
    assert(svc.appDetailsById("no.such.app").count() == 0)

    val rec = svc.recommendByCategory("GAMES").collect()
    assert(rec.nonEmpty && rec.length <= 20)

    assert(svc.topApps("not_a_column").isEmpty)
    val top = svc.topApps("score", 5, Some("tools")).get.collect()
    assert(top.length <= 5)
    val scores = top.map(r0 => Option(r0.getAs[Float]("score")).getOrElse(Float.MinValue))
    assert(scores.sameElements(scores.sortBy(-(_: Float))))

    val simKnown = svc.similarAppsByName("app dup title")
    assert(simKnown.isDefined && simKnown.get.count() <= 10)
    assert(svc.similarAppsByName("nonexistent app").isEmpty)

    assert(svc.appsInCluster(0).isDefined)
    val noCluster = new QueryService(served.drop("cluster"))
    assert(noCluster.appsInCluster(0).isEmpty)
  }

  test("search suggestions are the true top 15 by (highest installs desc, appId)") {
    val want = dupTriples.filter(_._1.toLowerCase.contains("dup"))
      .groupBy(r => (r._1, r._2, r._3)).view.mapValues(_.map(_._4).max).toSeq
      .sortBy { case ((title, id, score), n) => (-n, id, title, score) }.take(15).map(_._1)
    val got = new QueryService(dupTripleFrame).searchSuggestions("dup").collect()
      .map(r => (r.getString(0), r.getString(1), r.getFloat(2))).toSeq
    assert(got == want)
  }

  test("memoised answers equal the declarative queries they replace") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val byScore = Seq(desc("score"), asc("appId"))
    // planted next to the trained rows, every planted title holding "app"
    // like the trained ones: two rows with a null genre; one app stored
    // 12 times at the top of the largest cluster, so its own id fills
    // more than 10 of that cluster's top 20 and the similar route must
    // fall back to the full query; two different rows sharing one id,
    // whose first in partition order is the details answer (they differ
    // in every column a top_apps sort could tie them on within the top
    // 21); and a non-ASCII title
    val big = served.groupBy("cluster").count().filter(col("cluster").isNotNull)
      .orderBy(desc("count"), asc("cluster")).head().getInt(0)
    val template = served.filter(col("cluster") === big).head()
    def copy(changes: (String, Any)*): Row = Row.fromSeq(changes.foldLeft(template.toSeq) {
      case (row, (c, v)) => row.updated(served.schema.fieldIndex(c), v) })
    val twin = "app.id.35.twin"
    val planted = Seq(1, 2).map(i =>
        copy("appId" -> s"planted.null.$i", "title" -> s"App Planted Null $i", "genre" -> null)) ++
      Seq.fill(12)(copy("appId" -> "planted.dup", "title" -> "App Planted Dup", "score" -> 9.5f)) ++
      Seq(copy("appId" -> twin, "title" -> "App Twin A", "genre" -> null, "score" -> 1.25f,
          "minInstalls" -> 777L, "price" -> 0.11, "PredictedRating" -> 2.5f),
        copy("appId" -> twin, "title" -> "App Twin B", "genre" -> null, "score" -> 1.5f,
          "minInstalls" -> 778L, "price" -> 0.12, "cluster" -> null, "PredictedRating" -> 2.75f),
        copy("appId" -> "planted.cafe", "title" -> "App Ärger Café", "score" -> 2.25f))
    val frame = served.union(spark.createDataFrame(planted.asJava, served.schema)).cache()
    val svc = new QueryService(frame)
    def same(what: String, got: Seq[Row], want: Seq[Row]): Unit =
      assert(got == want, s"$what: memoised $got, declarative $want")
    def searchQuery(f: DataFrame, q: String) =
      f.filter(lower(col("title")).contains(q.toLowerCase))
        .groupBy("title", "appId", "score").agg(max("minInstalls").as("maxInstalls"))
        .orderBy(desc("maxInstalls"), asc("appId"), asc("title"), asc("score")).limit(15)
        .select("title", "appId", "score").collect().toSeq
    try {
      assert(frame.filter(col("cluster") === big).count() > QueryService.RankDepth,
        "the fallback needs a cluster larger than a ranking")
      val genres = frame.select("genre").distinct().collect().map(_.getString(0)).toSeq
      assert(genres.contains(null))
      def mixed(g: String) = g.zipWithIndex.map { case (ch, i) =>
        if (i % 2 == 0) ch.toUpper else ch.toLower }.mkString
      val stored = genres.filter(_ != null)
      def inGenre(g: String) = frame.filter(lower(col("genre")) === g.toLowerCase)
      for (g <- stored.flatMap(g => Seq(g, mixed(g))) :+ "NoSuchGenre")
        same(s"category $g", svc.recommendByCategory(g).collect().toSeq,
          inGenre(g).orderBy(desc("score"), desc("minInstalls"), asc("appId")).limit(20).collect().toSeq)
      val clusters = frame.select("cluster").distinct().collect()
        .filterNot(_.isNullAt(0)).map(_.getInt(0)).toSeq
      for (c <- clusters :+ 99 :+ -1)
        same(s"cluster $c", svc.appsInCluster(c).get.collect().toSeq,
          frame.filter(col("cluster") === c).orderBy(byScore: _*).limit(20).collect().toSeq)
      // top_apps, every column and category: ties under (column desc,
      // appId) are only between identical rows, so filtering the sorted
      // frame by genre and taking `limit` rows is the declarative answer,
      // one sort per column for every category and limit; a limit past
      // the rankings runs that query itself, checked for every column and,
      // on score, for every category
      val limits = Seq(0, 1, 10, QueryService.RankDepth)
      val deep = QueryService.RankDepth + 1
      val categories = None +: (stored.map(mixed) :+ "NoSuchGenre").map(Some(_))
      for (c <- frame.columns) {
        val sorted = frame.select(col("*"), lower(col("genre")))
          .orderBy(desc(c), asc("appId")).collect().toSeq
        for (g <- categories) {
          val want = sorted.filter(r => g.forall(_.toLowerCase == r.getString(r.length - 1)))
            .map(r => Row.fromSeq(r.toSeq.init))
          for (n <- limits)
            same(s"top_apps $c $g $n", svc.topApps(c, n, g).get.collect().toSeq, want.take(n))
          if (g.isEmpty || c == "score")
            same(s"top_apps $c $g $deep", svc.topApps(c, deep, g).get.collect().toSeq, want.take(deep))
        }
      }
      // details: each id's first row in partition order
      for (id <- frame.select("appId").distinct().collect().map(_.getString(0)) :+ "no.such.app")
        same(s"details $id", svc.appDetailsById(id).collect().toSeq,
          frame.filter(col("appId") === id).coalesce(1).limit(1).collect().toSeq)
      assert(svc.appDetailsById(twin).head().getAs[String]("title") == "App Twin A")
      // the similar route's declarative answer for every title in one
      // job: each title's lookup row is its first in partition order
      // (what the route's `limit(1)` lookup returned), and its answer the
      // top 10 of that row's cluster without that row's id
      val selves = frame.select("title", "appId", "cluster").collect()
        .groupBy(_.getString(0).toLowerCase).view.mapValues(_.head).toMap
      assert(selves.contains("app planted dup"))
      val want = frame.join(broadcast(selves.values.toSeq.filterNot(_.isNullAt(2))
          .map(r => (r.getString(0), r.getString(1), r.getInt(2)))
          .toDF("self_title", "self_id", "self_cluster")),
          col("cluster") === col("self_cluster") && col("appId") =!= col("self_id"))
        .withColumn("rk", row_number().over(Window.partitionBy("self_title").orderBy(byScore: _*)))
        .filter(col("rk") <= 10)
        .collect().groupBy(_.getAs[String]("self_title"))
        .view.mapValues(_.sortBy(_.getAs[Int]("rk")).map(r => Row.fromSeq(r.toSeq.take(frame.columns.length))).toSeq)
        .toMap
      for ((t, self) <- selves) {
        val got = svc.similarAppsByName(t)
        assert(got.isDefined == !self.isNullAt(2), s"similar $t: 404 differs")
        got.foreach(g => same(s"similar $t", g.collect().toSeq, want.getOrElse(self.getString(0), Nil)))
        if (t == "app planted dup")
          assert(tools.Inspect.finalPlan(got.get).startsWith("TakeOrderedAndProject"),
            "a ranking prefix filled by the app's own id must fall back to the query")
      }
      // search: every row a hit, a non-ASCII hit, no hit
      assert(frame.filter(!lower(col("title")).contains("app")).isEmpty)
      assert(svc.searchSuggestions("ÄRGER CAFÉ").count() == 1)
      for (q <- Seq("app", "ÄRGER CAFÉ", "zz"))
        same(s"search $q", svc.searchSuggestions(q).collect().toSeq, searchQuery(frame, q))
    } finally frame.unpersist()
    // search over duplicate triples, with ties across triples
    val dups = new QueryService(dupTripleFrame)
    for (q <- Seq("dup", "DUP APP 1", "app 3", "other", "zz"))
      same(s"search $q", dups.searchSuggestions(q).collect().toSeq, searchQuery(dupTripleFrame, q))
  }
}
