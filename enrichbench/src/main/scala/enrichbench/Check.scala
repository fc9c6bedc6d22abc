package enrichbench

import java.math.{BigDecimal => JBig}
import java.nio.charset.StandardCharsets

/** Output checks, in plain Scala and independent of the engine: the
  * expected answer of every row is recomputed from the generated input. */
object Check {
  def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(StandardCharsets.UTF_8)).map("%02x".format(_)).mkString

  /** Problems with a finished table of (id, text, answer) rows: every id
    * of `0 until rows` exactly once, its generated text, and the mock's
    * md5 reply to the rendered prompt. At most a few are listed. */
  def table(out: Array[(Long, String, String)], rows: Long,
            text: Long => String, prompt: (Long, String) => String): Seq[String] = {
    val errs = Seq.newBuilder[String]
    var bad = 0L
    def fail(msg: => String): Unit = { if (bad < 5) errs += msg; bad += 1 }
    if (out.length != rows) fail(s"table has ${out.length} rows, input $rows")
    val seen = new java.util.BitSet()
    out.foreach { case (id, _, _) =>
      if (id < 0 || id >= rows) fail(s"row id $id outside the input")
      else if (seen.get(id.toInt)) fail(s"row id $id twice")
      else seen.set(id.toInt)
    }
    // the per-row recomputation runs on all cores; failures are rare
    val wrong = java.util.stream.IntStream.range(0, out.length).parallel()
      .filter { i =>
        val (id, t, answer) = out(i)
        t != text(id) || answer != md5(prompt(id, t))
      }.toArray
    wrong.foreach { i =>
      val (id, t, answer) = out(i)
      if (t != text(id)) fail(s"row $id: text differs from the input")
      else fail(s"row $id: answer ${String.valueOf(answer)} is not the reply to its prompt")
    }
    if (bad > 5) errs += s"... ${bad - 5} more"
    errs.result()
  }

  /** Plain-Scala TF-IDF cosine over a claim corpus, computed the way the
    * engine's sparse index defines it: tf = count/|d|,
    * idf = ln((N+1)/(df+1)) + 1, weights rounded to 12 decimals, exact
    * decimal dot products, scores rounded to 6 decimals. */
  final class BruteTfIdf(claims: Seq[(Long, String)]) {
    private val n = claims.size.toLong
    private def toks(s: String) = s.toLowerCase.split("\\s+").filter(_.nonEmpty)
    private def counts(t: Array[String]) =
      t.groupBy(identity).map { case (k, v) => k -> v.length }
    private val df: Map[String, Long] = claims
      .flatMap(c => toks(c._2).distinct).groupBy(identity)
      .map { case (k, v) => k -> v.size.toLong }

    private def weight(cnt: Int, len: Int, dfT: Long): JBig = {
      val x = (cnt.toDouble / len) *
        (math.log((n + 1).toDouble / (dfT + 1)) + 1.0)
      val r = BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble
      BigDecimal(r).setScale(12, BigDecimal.RoundingMode.HALF_UP).bigDecimal
    }
    private def vector(t: Array[String]): Map[String, JBig] =
      counts(t).map { case (term, c) =>
        term -> weight(c, t.length, df.getOrElse(term, 0L)) }
    private def norm(v: Map[String, JBig]): Double =
      math.sqrt(v.values.foldLeft(JBig.ZERO)((a, w) => a.add(w.multiply(w)))
        .doubleValue)

    private val docs = claims.map { case (id, t) =>
      val v = vector(toks(t)); (id, v, norm(v))
    }

    /** Score of every claim for a query text, best first (ties by id). */
    def scores(query: String): Seq[(Long, Double)] = {
      val q = vector(toks(query))
      val qn = norm(q)
      docs.flatMap { case (id, v, dn) =>
        val dot = q.foldLeft(JBig.ZERO) { case (a, (term, wq)) =>
          v.get(term).fold(a)(w => a.add(wq.multiply(w)))
        }
        if (dot.signum == 0) None
        else Some(id -> BigDecimal(dot.doubleValue / (dn * qn))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }.sortBy { case (id, s) => (-s, id) }
    }

    /** Whether `got` (claim ids, rank order) is a correct top-`k` answer
      * with scores >= `minScore`: the same length as the brute-force
      * answer and, rank by rank, the same score (ties may order freely). */
    def sameTopK(query: String, got: Seq[Long], k: Int,
                 minScore: Double): Option[String] = {
      val all = scores(query)
      val byId = all.toMap
      val want = all.filter(_._2 >= minScore).take(k)
      val eps = 2e-6
      val gotScores = got.map(id => byId.getOrElse(id, -1.0))
      val lenOk = got.size == want.size || {
        // a score on the cut-off can round either way
        val edge = all.filter(s => math.abs(s._2 - minScore) <= eps)
        math.abs(got.size - want.size) <= edge.size
      }
      val scoresOk = gotScores.zip(want.map(_._2))
        .forall { case (a, b) => math.abs(a - b) <= eps }
      if (lenOk && scoresOk) None
      else Some(s"retrieved ${got.mkString(",")} scores " +
        s"${gotScores.mkString(",")}; brute force ${want.mkString(",")}")
    }
  }

  /** Claim texts in an evidence context block, rank order. */
  def contextTexts(ctx: String): Seq[String] =
    if (ctx == null || ctx.isEmpty) Nil
    else ctx.split("\n---\n").toSeq.map(p => p.substring(p.indexOf("] ") + 2))
}
