package graft

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.unsafe.types.UTF8String

import graft.queries.{TextAnalysis, TextIndex}

/** The driver-side completions [[Serve]]'s `/suggest` answers from a
  * [[TextIndex.Vocabulary]] equal the Spark form
  * `render(TextIndex.suggestFrom(vocab, prefix, limit), limit)` over the
  * same vocabulary, byte for byte: the same rows, the same tie order and
  * the same JSON escaping, for the documents corpus, the news lake's
  * `vocab` view and a synthetic vocabulary. */
class SuggestSpec extends SparkSpec {

  private def check(frame: DataFrame, v: TextIndex.Vocabulary, prefix: String,
      limit: Int): String = {
    val want = Serve.render(TextIndex.suggestFrom(frame, prefix, limit), limit)
    val got = Serve.renderSuggest(v, prefix, limit)
    assert(got === want, s"prefix '$prefix' limit $limit")
    got
  }

  test("the documents corpus's driver completions equal suggestFrom over its dictionary") {
    val rng = new Random(13)
    val frame = TextIndex.vocabOf(Tables.load(spark, sf0001, "documents"), "text", "doc_id")
    val corpus = TextAnalysis.documentsCorpus(spark, sf0001, cache = true)
    try {
      val v = corpus.vocabulary("text")
      val words = frame.collect().map(_.getString(0)).filter(_.nonEmpty).sorted
      def word: String = words(rng.nextInt(words.length))
      val prefixes = Seq.fill(20)(word).map(w => w.take(1 + rng.nextInt(math.min(3, w.length))))
      for (p <- prefixes; limit <- Seq(1, 5, 8, 100)) check(frame, v, p, limit)
      assert(check(frame, v, "zzqx", 100).contains("\"n\":0"), "a prefix with no match")
      val whole = word
      assert(check(frame, v, whole, 100).contains(s"\"w\":\"$whole\""), "a whole word")
    } finally corpus.rows.unpersist()
  }

  test("a news /suggest answers suggestFrom over the lake's vocab view") {
    val rng = new Random(17)
    ServeSpec.withNewsServer(spark, sf0001, "suggest_news") { (srv, lake, _) =>
      val view = LakeCommit.read(spark, s"$lake/${Schedule.VocabOutput}")
      val port = srv.getAddress.getPort
      def served(prefix: String, limit: Int): String = {
        val q = java.net.URLEncoder.encode(prefix, "UTF-8")
        val in = new java.net.URI(s"http://127.0.0.1:$port/suggest?index=news&q=$q&limit=$limit")
          .toURL.openStream()
        try new String(in.readAllBytes(), "UTF-8") finally in.close()
      }
      val words = view.collect().map(_.getString(0)).filter(_.nonEmpty).sorted
      val prefixes = Seq.fill(12) {
        val w = words(rng.nextInt(words.length))
        w.take(1 + rng.nextInt(math.min(3, w.length)))
      } :+ "zzqx"
      for (p <- prefixes; limit <- Seq(1, 5, 8, 100)) {
        val want = Json.write(Json.obj("completions" ->
          Json.Raw(Serve.render(TextIndex.suggestFrom(view, p, limit), limit))))
        assert(served(p, limit) === want, s"prefix '$p' limit $limit")
      }
      assert(served("zzqx", 5).contains("\"n\":0"), "a prefix with no match")
    }
  }

  test("driver completions break df ties in Spark's string order and escape like toJSON") {
    val rng = new Random(29)
    // ASCII, BMP code points above U+E000 and supplementary characters:
    // UTF-16 code-unit order puts a supplementary character (a surrogate
    // pair, D800-DFFF) below U+E000, while Spark's UTF-8 byte order puts
    // it above; the quote, backslash and tab need JSON escaping
    val alphabet = Seq("a", "b", "\"", "\\", "\t", "\uE000", "\uFB01", "\uFFFD",
      new String(Character.toChars(0x1F600)), new String(Character.toChars(0x10000)))
    val entries = Seq.fill(400)("a" + Seq.fill(1 + rng.nextInt(3))(
      alphabet(rng.nextInt(alphabet.size))).mkString).distinct
      .map(w => w -> (1L + rng.nextInt(3))) // few df values: many ties
    val words = entries.map(_._1)
    assert(words.exists(a => words.exists(b => a.compareTo(b) < 0 &&
      UTF8String.fromString(a).compareTo(UTF8String.fromString(b)) > 0)),
      "no pair orders differently by UTF-16 and UTF-8")
    val frame = spark.createDataFrame(entries).toDF("w", "df").repartition(3)
    val v = new TextIndex.Vocabulary(entries)
    for (p <- Seq("a", "a\uE000", "a" + alphabet(8), "ab", "a\"", "a\\", "zz");
        limit <- Seq(1, 5, 100)) check(frame, v, p, limit)
    val escaped = check(frame, v, "a\"", 100)
    assert(escaped.contains("\"w\":\"a\\\""), escaped.take(200))
    assert(check(frame, v, "a\\", 100).contains("\"w\":\"a\\\\"))
  }
}
