package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Embedder
import graft.operators.{IndexTable, KnnSearch, Rerank}

/** The facade's `search` and `answers` (one job over the cached serving
  * rows, rerank on the driver) return exactly the rows, order and schema
  * of the DataFrame pipeline: `KnnSearch.topK` over `IndexTable.readLatest`,
  * then `Rerank.answers`. */
class ServingEquivalenceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def pipelineSearch(path: String, alias: String, prompt: String, k: Int): DataFrame =
    KnnSearch.hitProjection(KnnSearch.topK(
      IndexTable.readLatest(spark, path, alias), Embedder.embedQuery(prompt), k))

  private def assertSame(got: DataFrame, expected: DataFrame, what: String): Unit = {
    assert(got.schema === expected.schema, what)
    val (g, e) = (got.collect().toSeq, expected.collect().toSeq)
    assert(g === e, what)
  }

  private def assertFacadeMatches(store: GraftVectorStore, path: String, alias: String,
                                  prompts: Seq[String]): Unit =
    prompts.foreach { p =>
      Seq(1, 10, 50, 1000).foreach { k =>
        assertSame(store.search(p, alias, topN = k), pipelineSearch(path, alias, p, k),
          s"search '$p' k=$k on $alias")
      }
      for (threshold <- Seq(0, 50); (topN, fanout) <- Seq((10, 50), (3, 5), (50, 200))) {
        assertSame(store.answers(p, alias, topN, fanout, threshold),
          Rerank.answers(pipelineSearch(path, alias, p, fanout), p, topN, threshold),
          s"answers '$p' topN=$topN fanout=$fanout threshold=$threshold on $alias")
      }
    }

  private val prompts = Seq("fast spark table scan query", "distributed join shuffle",
    "what is the vector index?", "the and of", "İSTANBUL ΟΔΟΣ 🚀 rocket", "ǅungla road")

  private def docs(n: Int) = spark.read.parquet(s"${TestSpark.sf}/documents.parquet")
    .select($"source".as("document_path"), $"text").limit(n)

  test("sf fixture tenants, compacted and with deltas pending") {
    val path = java.nio.file.Files.createTempDirectory("serving_eq").toString + "/idx"
    val store = new GraftVectorStore(spark, path)
    val base = docs(60).collect().map(r => (r.getString(0), r.getString(1))).toSeq
    store.addDocuments(base.toDF("document_path", "text"), "t", pageSize = 32)
    store.addDocuments(base.take(20).toDF("document_path", "text"), "u", pageSize = 32)
    store.compactIndex("t")
    assertFacadeMatches(store, path, "t", prompts)
    // "u" was never compacted: every row is a delta row
    assertFacadeMatches(store, path, "u", prompts)
    // upserts, new documents and a tombstone delete over the generation
    store.addDocuments((base.take(6).map { case (p, t) => (p, t.toUpperCase) } ++
      (1 to 4).map(i => (s"new/$i", s"fast spark scan number $i"))).toDF("document_path", "text"),
      "t", pageSize = 32)
    store.deleteDocuments(base.slice(6, 9).map(_._1), "t")
    assert(IndexTable.deltaFileCount(spark, path, "t") > 0)
    assertFacadeMatches(store, path, "t", prompts)
    store.dropIndex()
  }

  test("tied similarities and non-ASCII content and paths") {
    val path = java.nio.file.Files.createTempDirectory("serving_eq_ties").toString + "/idx"
    val store = new GraftVectorStore(spark, path)
    val dup = "fast spark table scan query over the vector index"
    val long = Seq.fill(30)("🚀rocket").mkString(" ")
    // equal texts embed to equal vectors, so these hits tie on similarity
    // (and on score), and their order falls to id and to document_path;
    // U+FF21 sorts before U+1D4B3 in UTF-8 byte order but after it in
    // UTF-16 order
    val rows = Seq("dup/a", "dup/b", "dup/é", "dup/Ａ", "dup/𝒳", "dup/Z")
      .map(p => (p, dup)) ++ Seq(
      ("intl/tr", "İSTANBUL istanbul road map"),
      ("intl/el", "ΟΔΟΣ οδος σοφος"),
      ("intl/dz", "ǅungla road ǆungla"),
      ("intl/long", long),
      ("intl/long2", long),
      ("plain/1", "completely unrelated words about cooking dinner tonight"))
    store.addDocuments(rows.toDF("document_path", "text"), "t", pageSize = 32)
    val hits = store.search(dup, "t", topN = 6).collect()
    assert(hits.map(_.getAs[Double]("similarity")).distinct.length === 1)
    assertFacadeMatches(store, path, "t", prompts :+ dup :+ "🚀rocket")
    // the long page's answer is cut to 160 code points, not UTF-16 units
    val ans = store.answers("🚀rocket", "t", topN = 1, threshold = 0).collect()
    assert(ans.head.getString(0).codePointCount(0, ans.head.getString(0).length) === 160)
    store.compactIndex("t")
    assertFacadeMatches(store, path, "t", Seq(dup, "İSTANBUL ΟΔΟΣ 🚀 rocket"))
    store.dropIndex()
  }

  test("folds rank same-stamp ties as readLatest does: one id twice in one batch, a " +
      "null page_content against a non-null one, and writes at a cached row's stamp") {
    import org.apache.spark.sql.functions.{col, lit}
    val path = java.nio.file.Files.createTempDirectory("serving_eq_fold").toString + "/idx"
    val store = new GraftVectorStore(spark, path)
    val base = docs(30).collect().map(r => (r.getString(0), r.getString(1))).toSeq
    store.addDocuments(base.toDF("document_path", "text"), "t", pageSize = 32)
    store.compactIndex("t")
    val checked = Seq("fast spark table scan query", "zebra aardvark words")
    // every append below folds into the view the check before it cached
    assertFacadeMatches(store, path, "t", checked)
    def records(rows: Seq[(String, String)]): DataFrame =
      IndexTable.ingestRecords(rows.toDF("document_path", "text"), "t", pageSize = 32)
    def appendAt(stamp: Long, df: DataFrame): Unit =
      IndexTable.append(df.withColumn("ingest_seq", lit(stamp)), path)
    // one id twice in one batch: the smaller content wins
    appendAt(IndexTable.nextIngestSeq(),
      records(Seq(("tie/a", "zebra words here"), ("tie/a", "aardvark words here"))))
    assertFacadeMatches(store, path, "t", checked)
    // a null page_content against a non-null one at one stamp: null wins
    val b = records(Seq(("tie/b", "zebra aardvark null words")))
    appendAt(IndexTable.nextIngestSeq(),
      b.unionByName(b.withColumn("page_content", lit(null).cast("string"))))
    assertFacadeMatches(store, path, "t", checked)
    // writes stamped exactly as cached rows are: a content that sorts first
    // wins, one that sorts last loses, and a tombstone wins
    val stamps = IndexTable.read(spark, path, "t").where(col("page_number") === 0)
      .select(col("id"), col("document_path"), col("ingest_seq")).as[(String, String, Long)]
      .collect().sortBy(_._2).take(3)
    val (_, early, earlyStamp) = stamps(0)
    val (_, late, lateStamp) = stamps(1)
    val (goneId, _, goneStamp) = stamps(2)
    appendAt(earlyStamp, records(Seq((early, "0000 zebra aardvark earlier"))))
    appendAt(lateStamp, records(Seq((late, "~~~~ zebra aardvark later"))))
    appendAt(goneStamp, Seq(goneId).toDF("id")
      .withColumn("index_alias", lit("t"))
      .withColumn("document_path", lit(null).cast("string"))
      .withColumn("page_number", lit(null).cast("int"))
      .withColumn("page_content", lit(null).cast("string"))
      .withColumn("page_content_vector", lit(null).cast("array<float>"))
      .withColumn("is_deleted", lit(true)))
    assertFacadeMatches(store, path, "t", checked)
    val served = store.search("zebra aardvark", "t", topN = 1000)
      .select($"document_path", $"page_number", $"page_content").as[(String, Int, String)]
      .collect().map(r => ((r._1, r._2), r._3)).toMap
    assert(served(("tie/a", 0)) === "aardvark words here")
    assert(served.contains(("tie/b", 0)) && served(("tie/b", 0)) === null)
    assert(served((early, 0)) === "0000 zebra aardvark earlier")
    assert(served.contains((late, 0)))
    assert(served((late, 0)) !== "~~~~ zebra aardvark later")
    assert(!served.contains((stamps(2)._2, 0)))
    store.dropIndex()
  }

  test("an empty tenant serves no rows; k = 0 serves none and k = Int.MaxValue all") {
    val path = java.nio.file.Files.createTempDirectory("serving_eq_empty").toString + "/idx"
    val store = new GraftVectorStore(spark, path)
    store.addDocuments(docs(3), "t", pageSize = 32)
    assertSame(store.search("spark", "nobody"), pipelineSearch(path, "nobody", "spark", 10),
      "empty tenant")
    assert(store.answers("spark", "nobody", threshold = 0).collect().isEmpty)
    assert(store.search("spark", "t", topN = 0).collect().isEmpty)
    assertSame(store.search("spark", "t", topN = Int.MaxValue),
      pipelineSearch(path, "t", "spark", Int.MaxValue), "k = Int.MaxValue")
    store.dropIndex()
  }
}
