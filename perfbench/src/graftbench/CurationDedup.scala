package graftbench

import java.nio.file.Path
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.etl.CurationJob
import graft.operators.{Curation, Dedup}

/** `curation_dedup`: a synthetic corpus in four languages with planted
  * exact duplicates and planted near-duplicate families. Each pass runs
  * `CurationJob.run()` (quality rules, exact-dup keeper, chunking,
  * packing, partitioned parquet), then `Dedup.minhashCandidates` and
  * `Dedup.minLabelClusters` over the curated documents.
  *
  * The generator applies the quality rules' exact integer definitions
  * to every document it writes, so it knows how many documents the job
  * must keep, and it knows which documents form each near-dup family.
  */
final class CurationDedup extends Workload {
  // 8k documents: a twenty-fifth of the ~200k corpus the workload is named for
  override def defaultScale: Double = 0.04
  private val Langs = Seq("en", "de", "fr", "es")
  // enough rounds to reach the fixpoint (the loop exits early there)
  private val Rounds = 100
  // LSH is probabilistic: with 4 bands of 2 rows a planted pair (one word
  // swapped in ~75) still misses every band now and then, so the check
  // asks for nearly all families, not all of them
  private val MinFamilyRecall = 0.97

  private var corpus = ""
  private var outRoot: Path = _
  private var expectedIn = 0L
  private var expectedKept = 0L
  private var families: Seq[Array[Long]] = Nil

  override def setup(spark: SparkSession, dir: Path, seed: Long,
                     scale: Double, events: Events): Unit = {
    val rnd = new SplittableRandom(seed)
    val nDocs = math.max(200, (200000 * scale).toInt)
    // per-language vocabularies of random lowercase words, 3..6 letters
    val vocab = Langs.map { _ =>
      Array.fill(20000) {
        val len = 3 + rnd.nextInt(4)
        new String(Array.fill(len)(('a' + rnd.nextInt(26)).toChar))
      }
    }
    def words(lang: Int, n: Int): Array[String] = {
      val ws = Array.fill(n)(vocab(lang)(rnd.nextInt(vocab(lang).length)))
      ws(rnd.nextInt(n)) = "the"
      ws
    }
    // the quality rules' integer arithmetic, as Curation.qualitySignals
    def keeps(text: String): Boolean = {
      val nWords = text.split(" ", -1).length
      val meanWlE2 = text.count(_ != ' ').toLong * 100 / nWords
      val symbolE6 = text.toLowerCase.count(c =>
        !((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') || c == ' ')).toLong * 1000000 /
        math.max(text.length, 1)
      val stop = text.split(" ", -1).exists(t => t == "the" || t == "a")
      nWords >= Curation.MinWords && nWords <= Curation.MaxWords &&
        meanWlE2 >= Curation.MinMeanWlE2 && meanWlE2 <= Curation.MaxMeanWlE2 &&
        symbolE6 <= Curation.MaxSymbolE6 && stop
    }

    val rows = new mutable.ArrayBuffer[Row](nDocs)
    val fams = mutable.ArrayBuffer[Array[Long]]()
    var kept = 0L
    var id = 0L
    def emit(lang: Int, text: String, copy: Boolean): Long = {
      id += 1
      rows += Row(id, Langs(lang), text)
      if (!copy && keeps(text)) kept += 1
      id
    }
    while (id < nDocs) {
      val lang = rnd.nextInt(Langs.size)
      val kind = rnd.nextInt(100)
      if (kind < 80) {
        // ordinary document: usually kept, sometimes too short or too long
        val n = if (rnd.nextInt(20) == 0) 5 + rnd.nextInt(10) else 40 + rnd.nextInt(45)
        emit(lang, words(lang, n).mkString(" "), copy = false)
      } else if (kind < 86) {
        // symbol-heavy page: fails the symbol-share rule
        val ws = words(lang, 40 + rnd.nextInt(40)).map(w => if (rnd.nextInt(3) == 0) w + "#%" else w)
        emit(lang, ws.mkString(" "), copy = false)
      } else if (kind < 92) {
        // planted exact duplicates: two more copies of one kept document
        val text = words(lang, 50 + rnd.nextInt(30)).mkString(" ")
        emit(lang, text, copy = false)
        emit(lang, text, copy = true)
        emit(lang, text, copy = true)
      } else {
        // planted near-dup family: a base and 2..3 variants, each with
        // one word swapped for another of the same length
        val base = words(lang, 70 + rnd.nextInt(15))
        val members = mutable.ArrayBuffer(emit(lang, base.mkString(" "), copy = false))
        (0 until 2 + rnd.nextInt(2)).foreach { _ =>
          val v = base.clone()
          var j = rnd.nextInt(v.length)
          while (v(j) == "the") j = rnd.nextInt(v.length)
          val was = v(j)
          while (v(j) == was) v(j) = new String(Array.fill(was.length)(('a' + rnd.nextInt(26)).toChar))
          members += emit(lang, v.mkString(" "), copy = false)
        }
        // a family whose base fails the quality rules never reaches dedup
        if (keeps(base.mkString(" "))) fams += members.toArray
      }
    }
    val schema = StructType(Seq(StructField("doc_id", LongType, nullable = false),
      StructField("lang", StringType), StructField("text", StringType)))
    corpus = dir.resolve("corpus").toString
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 8), schema)
      .write.parquet(corpus)
    outRoot = dir.resolve("out")
    expectedIn = id
    expectedKept = kept
    families = fams.toSeq
    events.line(Json.obj("ev" -> "input", "name" -> "docs", "value" -> id, "unit" -> "rows"))
    events.line(Json.obj("ev" -> "input", "name" -> "corpus_bytes",
      "value" -> Main.dirBytes(dir.resolve("corpus")), "unit" -> "B"))
    events.line(Json.obj("ev" -> "input", "name" -> "corpus_files",
      "value" -> java.nio.file.Files.list(dir.resolve("corpus")).filter(_.toString.endsWith(".parquet")).count(),
      "unit" -> "files"))
    events.line(Json.obj("ev" -> "input", "name" -> "near_dup_families", "value" -> fams.size, "unit" -> "count"))
  }

  override def pass(ctx: Ctx, i: Int): Unit = {
    val spark = ctx.spark
    val out = outRoot.resolve(s"pass$i")
    val job = new CurationJob(spark, corpus, out.toString)
    val summary = ctx.op("write", "curation.job") { job.run().collect().head }
    val nIn = summary.getAs[Long]("n_docs_in")
    val nKept = summary.getAs[Long]("n_docs_kept")
    val wantKept = if (ctx.corrupt) expectedKept + 1 else expectedKept
    ctx.check("docs_in", nIn == expectedIn, s"$nIn docs in, generated $expectedIn")
    ctx.check("docs_kept", nKept == wantKept, s"$nKept docs kept, expected $wantKept")
    ctx.count("sink.bytes", Main.dirBytes(out).toDouble)
    ctx.count("sink.rows", summary.getAs[Long]("n_chunks").toDouble)

    val docs = job.curated().select(col("doc_id"), col("text")).cache()
    try {
      // one read operation: candidate pairs, then clusters over them
      val (pairs, labels) = ctx.op("read", "dedup") {
        val pairs = ctx.tracer.span("dedup.candidates") {
          Dedup.minhashCandidates(docs, "doc_id", "text").collect()
            .map(r => (r.getLong(0), r.getLong(1)))
        }
        val labels = ctx.tracer.span("dedup.clusters") {
          val pairsDf = spark.createDataFrame(pairs.toSeq).toDF("id_a", "id_b")
          Dedup.minLabelClusters(docs.select(col("doc_id")), "doc_id",
            pairsDf, "id_a", "id_b", Rounds).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        }
        (pairs, labels)
      }
      // independent answer: connected components of the candidate graph,
      // each labelled by its smallest id
      val parent = mutable.LongMap[Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val wrong = labels.count { case (id, l) => find(id) != l }
      ctx.check("clusters", wrong == 0,
        s"$wrong of ${labels.size} cluster labels differ from the candidate graph's components")
      val pairSet = pairs.toSet
      val found = families.map(f =>
        (for (a <- f; b <- f if a < b && pairSet((a, b))) yield 1L).sum).sum
      val intact = families.count(f => f.map(labels.getOrElse(_, -1L)).distinct.length == 1)
      val recall = intact.toDouble / math.max(1, families.size)
      ctx.check("near_dup_families", recall >= MinFamilyRecall,
        s"$intact of ${families.size} planted families in one cluster")
      ctx.count("dedup.candidate_pairs", pairs.length)
      ctx.count("dedup.planted_pairs_found", found.toDouble)
    } finally docs.unpersist()
    Main.deleteTree(out)
  }
}
