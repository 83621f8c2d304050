package graft

import graft.queries.Catalog

/** Value-level verification of the round-4 curation operators against
  * independent plain-Scala models (collections code sharing nothing with
  * the DataFrame implementations), on the sf0.001 tables. The DuckDB
  * oracle gate checks the same queries a third way.
  */
class CurationOpsSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def toks(text: String): Vector[String] =
    text.toLowerCase.split("\\s+", -1).toVector

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  private lazy val docs: Map[Long, Vector[String]] =
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> toks(r.getString(1))).toMap

  test("text_repetition_filter matches a plain-Scala model") {
    val got = Catalog.byName("text_repetition_filter").spark(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2),
        r.getDouble(3), r.getBoolean(4))).toSeq.sortBy(_._1)
    assert(got.nonEmpty)
    got.foreach { case (id, nTok, dupF, topF, keep) =>
      val t = docs(id)
      val g2 = if (t.size >= 2) t.sliding(2).map(_.mkString(" ")).toVector
               else Vector.empty[String]
      val dup = (g2.size - g2.distinct.size).toDouble / math.max(g2.size, 1)
      val top = if (g2.isEmpty) 0 else g2.groupBy(identity).values.map(_.size).max
      val topFrac = 2.0 * top / math.max(t.size, 1)
      assert(nTok === t.size, s"doc $id n_tokens")
      assert(dupF === round6(dup), s"doc $id dup_bigram_frac")
      assert(topF === round6(topFrac), s"doc $id top_bigram_frac")
      assert(keep === (dup <= 0.08 && topFrac <= 0.2), s"doc $id keep")
    }
    // the thresholds must actually separate: some docs kept, model agrees
    assert(got.exists(_._5) )
  }

  test("text_repetition_filter flags a pathological repeated doc") {
    // "spam spam spam ..." has dup_bigram_frac → 1 and top coverage > 1;
    // model check that such a doc would be dropped (the rule itself, not
    // the fixture, is under test here).
    val t = Vector.fill(40)("spam")
    val g2 = t.sliding(2).map(_.mkString(" ")).toVector
    val dup = (g2.size - g2.distinct.size).toDouble / g2.size
    val top = g2.groupBy(identity).values.map(_.size).max
    assert(dup > 0.08 && 2.0 * top / t.size > 0.2)
  }

  test("text_chunk_split matches a plain-Scala model (boundaries included)") {
    val got = Catalog.byName("text_chunk_split").spark(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getString(3))).toSeq.sortBy(t => (t._1, t._2))
    val want = docs.toSeq.sortBy(_._1).flatMap { case (id, t) =>
      (1 to t.size by 24).flatMap { s =>
        val n = math.min(s + 31, t.size) - s + 1
        if (n >= 8)
          Some((id, s, n, t.slice(s - 1, s - 1 + math.min(32, t.size - s + 1))
            .mkString(" ")))
        else None
      }
    }
    assert(got === want)
    // overlap invariant: consecutive chunks of one doc overlap by 8 tokens
    got.groupBy(_._1).values.foreach { cs =>
      cs.sliding(2).foreach {
        case Seq((_, s1, n1, _), (_, s2, _, _)) =>
          assert(s2 - s1 === 24 && s1 + n1 - s2 >= 0)
        case _ =>
      }
    }
  }

  test("pipe_pii_redact masks every email and phone it mints") {
    val got = Catalog.byName("pipe_pii_redact").spark(spark, sfDir).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val red = r.getString(1)
      assert(!red.contains("@"), s"unmasked email in: $red")
      assert(!red.matches(".*\\+\\d{2}-\\d{3}-\\d{4}.*"), s"unmasked phone in: $red")
      assert(red.contains("<EMAIL>") && red.contains("<PHONE>"))
      assert(r.getInt(2) === 1 && r.getInt(3) === 1, "audit counts")
    }
  }

  test("text_bm25_rank matches a plain-Scala BM25 model") {
    val terms = Seq("spark", "window", "merge")
    val n = docs.size
    val avgdl = docs.values.map(_.size).sum.toDouble / n
    val dfs = terms.map(w => w -> docs.values.count(_.contains(w))).toMap
    def score(t: Vector[String]): Double = terms.map { w =>
      val tf = t.count(_ == w).toDouble
      val df = dfs(w)
      val idf = math.log((n - df + 0.5) / (df + 0.5) + 1)
      idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * t.size / avgdl))
    }.sum
    val want = docs.toSeq.map { case (id, t) => (id, round6(score(t))) }
      .sortBy { case (id, sc) => (-sc, id) }.take(20)
    val got = Catalog.byName("text_bm25_rank").spark(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    got.zip(want).foreach { case ((gi, gs), (wi, ws)) =>
      assert(gi === wi, "ranking order")
      assert(math.abs(gs - ws) <= 1e-6, s"score for doc $gi")
    }
  }

  test("agg_percentiles matches a plain-Scala interpolation model") {
    val prices = spark.read.parquet(s"$sfDir/orders.parquet")
      .select("o_orderpriority", "o_totalprice").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toSeq
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toIndexedSeq).toMap
    def pct(xs: IndexedSeq[Double], q: Double): Double = {
      val idx = (xs.size - 1) * q
      val lo = math.floor(idx).toInt
      val hi = math.ceil(idx).toInt
      xs(lo) + (xs(hi) - xs(lo)) * (idx - lo)
    }
    val got = Catalog.byName("agg_percentiles").spark(spark, sfDir).collect()
    assert(got.map(_.getString(0)).toSet === prices.keySet)
    got.foreach { r =>
      val xs = prices(r.getString(0))
      assert(r.getLong(1) === xs.size.toLong)
      Seq(0.5 -> r.getDouble(2), 0.9 -> r.getDouble(3), 0.99 -> r.getDouble(4))
        .foreach { case (q, v) =>
          assert(math.abs(v - pct(xs, q)) <= 1e-6, s"${r.getString(0)} p$q")
        }
    }
  }

  test("text_lm_score matches a plain-Scala bigram LM and separates plants") {
    // Corpus = natural docs + repetitive boilerplate plants (first bigram
    // ×40, re-keyed +200000), exactly as the query mints them.
    val corpus: Map[Long, Vector[String]] =
      docs.filter(_._2.size >= 2) ++
        docs.collect { case (id, t) if id % 50 == 0 && t.size >= 2 =>
          (id + 200000L) -> Vector.fill(40)(t.take(2)).flatten
        }
    val bigrams = corpus.view.mapValues(t => t.sliding(2).map {
      p => (p(0), p(1))
    }.toVector).toMap
    val bc = bigrams.values.flatten.groupBy(identity).view.mapValues(_.size).toMap
    val uc = bc.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val v = corpus.values.flatten.toSet.size
    val want = bigrams.map { case (id, bs) =>
      id -> (round6(bs.map { b =>
        -math.log((bc(b) + 0.5) / (uc(b._1) + 0.5 * v))
      }.sum / bs.size), bs.size.toLong)
    }
    val got = Catalog.byName("text_lm_score").spark(spark, sfDir)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(got.keySet === want.keySet)
    want.foreach { case (id, (nll, n)) =>
      assert(got(id)._2 === n, s"doc $id n_bigrams")
      assert(math.abs(got(id)._1 - nll) <= 1e-6, s"doc $id nll")
    }
    // the filterable signal: every boilerplate plant scores strictly below
    // every natural doc (the low-perplexity template-spam tail)
    val (planted, natural) = got.partition(_._1 >= 200000L)
    assert(planted.nonEmpty && natural.nonEmpty)
    assert(planted.values.map(_._1).max < natural.values.map(_._1).min)
  }

  test("pipe_dsir_resample matches a plain-Scala importance model") {
    val B = 64
    def bucket(w1: String, w2: String): Long = {
      // fold CODEPOINTS, not UTF-16 units: Spark's ascii(substring(s,i,1))
      // and DuckDB's unicode() both yield codepoints, and a surrogate
      // pair folded as two units would land in a different bucket
      val s = w1 + " " + w2
      s.codePoints().toArray
        .foldLeft(0L)((acc, c) => (acc * 31 + c) % 1000003L) % B
    }
    val feats: Map[Long, Vector[Long]] = docs.collect {
      case (id, t) if t.size >= 2 =>
        id -> t.sliding(2).map(p => bucket(p(0), p(1))).toVector
    }
    val (tgt, raw) = feats.partition(_._1 % 10 == 0)
    val tc = tgt.values.flatten.groupBy(identity).view.mapValues(_.size).toMap
    val rc = raw.values.flatten.groupBy(identity).view.mapValues(_.size).toMap
    val (nt, nr) = (tgt.values.map(_.size).sum, raw.values.map(_.size).sum)
    val want = raw.map { case (id, fs) =>
      id -> (round6(fs.map { f =>
        math.log((tc.getOrElse(f, 0) + 0.5) / (nt + 0.5 * B)) -
          math.log((rc.getOrElse(f, 0) + 0.5) / (nr + 0.5 * B))
      }.sum), fs.size.toLong)
    }
    val got = Catalog.byName("pipe_dsir_resample").spark(spark, sfDir)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(got.keySet === want.keySet)
    want.foreach { case (id, (lw, n)) =>
      assert(got(id)._2 === n, s"doc $id n_feats")
      assert(math.abs(got(id)._1 - lw) <= 1e-6, s"doc $id logw")
    }
    // weights must discriminate, not collapse to a constant
    assert(got.values.map(_._1).toSet.size > 1)
  }

  test("wordNgrams edge cases at n = 2, 3 and 5, with and without distinct") {
    import org.apache.spark.sql.functions.{array_distinct, col}
    import graft.queries.CurationDefs.wordNgrams
    // text -> its n = 2, 3, 5 grams in order, repeats kept. Leading and
    // trailing whitespace split to "" tokens, which concat_ws keeps.
    val want: Seq[(String, Seq[Seq[String]])] = Seq(
      "" -> Seq(Nil, Nil, Nil),
      "a b" -> Seq(Seq("a b"), Nil, Nil),
      "a b c" -> Seq(Seq("a b", "b c"), Seq("a b c"), Nil),
      " A  b\tc " -> Seq(Seq(" a", "a b", "b c", "c "),
        Seq(" a b", "a b c", "b c "), Seq(" a b c ")),
      "The cat the CAT the cat" -> Seq(
        Seq("the cat", "cat the", "the cat", "cat the", "the cat"),
        Seq("the cat the", "cat the cat", "the cat the", "cat the cat"),
        Seq("the cat the cat the", "cat the cat the cat")))
    val ns = Seq(2, 3, 5)
    val rows = spark.createDataFrame(want.map(w => Tuple1(w._1))).toDF("text")
      .select(col("text"), graft.queries.CurationDefs.toks.as("tk"))
      .select(col("text") +: ns.flatMap { n =>
        val g = wordNgrams(col("tk"), n)
        Seq(g, array_distinct(g))
      }: _*)
      .collect().map(r => r.getString(0) ->
        ns.indices.map(k => (r.getSeq[String](1 + 2 * k),
          r.getSeq[String](2 + 2 * k)))).toMap
    want.foreach { case (text, grams) =>
      ns.indices.foreach { k =>
        val (raw, distinct) = rows(text)(k)
        assert(raw === grams(k), s"'$text' n=${ns(k)}")
        assert(distinct === grams(k).distinct, s"'$text' n=${ns(k)} distinct")
      }
    }
    assert(rows("The cat the CAT the cat").map(_._2) === Seq(
      Seq("the cat", "cat the"), Seq("the cat the", "cat the cat"),
      Seq("the cat the cat the", "cat the cat the cat")))
  }
}
