package graft

import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen

import graft.functions.{Tokenizer, TrigramOps}
import graft.sources.{Html, Xpath}

/** Property-based hardening (SURVEY §5.6): the tokenizer and trigram
  * expression against generated inputs, the trigram kernel against an
  * independently-written Jaccard model, and the HTML parser against a
  * serialize→parse structural roundtrip. Complements the
  * reference-derived vector specs (TokenizerSpec, TrigramSpec,
  * HtmlXpathSpec) with invariants over the whole input space, and the
  * one md5 kernel against its SQL form.
  *
  * Generators are ScalaCheck `Gen`s driven by a seeded in-house loop (the
  * scalatestplus bridge artifact is not in the offline cache) — 300 cases
  * per property, reproducible from the fixed seed. */
class PropertySpec extends SparkSpec {

  private def forAll[A](g: Gen[A], n: Int = 300)(f: A => Unit): Unit = {
    val params = Gen.Parameters.default
    var seed = org.scalacheck.rng.Seed(20260813L)
    var i = 0
    while (i < n) {
      g.apply(params, seed).foreach(f)
      seed = seed.next
      i += 1
    }
  }

  private def forAll[A, B](ga: Gen[A], gb: Gen[B])(f: (A, B) => Unit): Unit =
    forAll(Gen.zip(ga, gb))(f.tupled)

  // ------------------------------------------------------------ tokenizer

  private val wordGen = Gen.oneOf(
    Gen.stringOfN(4, Gen.alphaLowerChar),
    Gen.stringOfN(2, Gen.alphaUpperChar),
    Gen.const("@handle"), Gen.const("#tag"), Gen.const("a"),
    Gen.const("x,y."), Gen.const("😀"), Gen.const("😀😀😀"),
    Gen.const("Mür-zu"), Gen.const("it!"), Gen.const("end?"))

  private val textGen: Gen[String] = for {
    n <- Gen.choose(0, 30)
    ws <- Gen.listOfN(n, wordGen)
    sep <- Gen.listOfN(n, Gen.oneOf(" ", "  ", "\n", " / ", ". "))
  } yield ws.zip(sep).map { case (w, s) => w + s }.mkString

  test("tokenizer: ordinal and character-class invariants hold on any input") {
    forAll(textGen) { text =>
      val toks = Tokenizer.tokenize(text)
      // 1-based contiguous global word index (reference post_words 1-based)
      assert(toks.map(_.wordIndex) == (1 to toks.length))
      // sentence index 1-based, non-decreasing
      assert(toks.forall(_.sentenceIndex >= 1))
      assert(toks.map(_.sentenceIndex) == toks.map(_.sentenceIndex).sorted)
      toks.foreach { t =>
        // lowercase, no whitespace, punctuation stripped except @ and #
        assert(t.word == t.word.toLowerCase(java.util.Locale.ROOT))
        assert(!t.word.exists(_.isWhitespace))
        assert(!t.word.exists(c =>
          c != '@' && c != '#' &&
            Character.getType(c) == Character.OTHER_PUNCTUATION))
        // single-char tokens survive only as emoji
        assert(t.word.length > 1 || t.word.exists(c =>
          Character.getType(c) == Character.OTHER_SYMBOL))
      }
    }
  }

  // ------------------------------------------------------------- trigram

  /** Independent pg_trgm model: regex word extraction, collection-based
    * padded sliding windows — none of the kernel's char-loop machinery. */
  private def modelTrigrams(s: String): Set[String] =
    "[a-z0-9]+".r.findAllIn(s.toLowerCase(java.util.Locale.ROOT))
      .flatMap(w => ("  " + w + " ").sliding(3))
      .toSet

  private val trigramStrGen: Gen[String] = for {
    n <- Gen.choose(0, 5)
    parts <- Gen.listOfN(n, Gen.oneOf(
      Gen.stringOfN(3, Gen.alphaNumChar), Gen.stringOfN(1, Gen.alphaChar),
      Gen.const("Wörter"), Gen.const("..."), Gen.const("a-b c")))
  } yield parts.mkString(" ")

  private def sim(a: String, b: String): Double =
    TrigramOps.sim(UTF8String.fromString(a), UTF8String.fromString(b))

  test("trigram kernel: symmetry, range, identity, case-fold, model parity") {
    forAll(trigramStrGen, trigramStrGen) { (a, b) =>
      val s = sim(a, b)
      assert(s == sim(b, a))
      assert(s >= 0.0 && s <= 1.0)
      assert(s == sim(a.toUpperCase(java.util.Locale.ROOT), b))
      val (ta, tb) = (modelTrigrams(a), modelTrigrams(b))
      val expected =
        if (ta.isEmpty && tb.isEmpty) 0.0
        else (ta & tb).size.toDouble / (ta | tb).size.toDouble
      assert(math.abs(s - expected) < 1e-12,
        s"sim('$a','$b')=$s model=$expected")
      if (modelTrigrams(a).nonEmpty) assert(sim(a, a) == 1.0)
    }
  }

  // ------------------------------------------------------ html roundtrip

  private final case class Tree(tag: String, attrs: List[(String, String)],
      kids: List[Either[String, Tree]])

  // Tags with no implied-end-tag interactions; attr values quote-free;
  // text non-empty without markup characters (entity decode is covered
  // separately and in HtmlXpathSpec).
  private val tagGen = Gen.oneOf("div", "span", "section", "b", "em")
  private val attrGen: Gen[(String, String)] = for {
    k <- Gen.oneOf("class", "id", "data-x", "title")
    v <- Gen.stringOfN(3, Gen.alphaNumChar)
  } yield (k, v)
  private val textLeafGen: Gen[String] = for {
    s <- Gen.stringOfN(4, Gen.frequency(
      (8, Gen.alphaNumChar), (1, Gen.const(' ')), (1, Gen.oneOf('ü', 'ß'))))
  } yield s

  private def treeGen(depth: Int): Gen[Tree] = for {
    tag <- tagGen
    na <- Gen.choose(0, 2)
    attrs <- Gen.listOfN(na, attrGen)
    nk <- Gen.choose(0, if (depth <= 0) 0 else 3)
    kids <- Gen.listOfN(nk,
      if (depth <= 0) textLeafGen.map(Left(_))
      else Gen.frequency(
        (2, textLeafGen.map(Left(_): Either[String, Tree])),
        (3, Gen.lzy(treeGen(depth - 1)).map(Right(_): Either[String, Tree]))))
  } yield Tree(tag, attrs.distinctBy(_._1), kids)

  private def render(t: Tree): String =
    s"<${t.tag}${t.attrs.map { case (k, v) => s""" $k="$v"""" }.mkString}>" +
      t.kids.map { case Left(s) => s; case Right(c) => render(c) }.mkString +
      s"</${t.tag}>"

  private def structurallyEqual(t: Tree, e: Html.HElem): Boolean =
    t.tag == e.tag &&
      t.attrs.forall { case (k, v) => e.attr(k).contains(v) } &&
      e.attrs.size == t.attrs.size && {
        val kidElems = e.childElems
        val treeElems = t.kids.collect { case Right(c) => c }
        kidElems.length == treeElems.length &&
          treeElems.zip(kidElems).forall { case (a, b) =>
            structurallyEqual(a, b)
          } &&
          // text nodes concatenate positionally between/around elements;
          // compare the flattened text content
          t.kids.collect { case Left(s) => s }.mkString ==
            e.children.collect { case x: Html.HText => x.text }.mkString
      }

  test("html parser: serialize -> parse roundtrips any generated tree") {
    forAll(treeGen(3)) { tree =>
      val dom = Html.parse(s"<html><body>${render(tree)}</body></html>")
      val body = Xpath.elems(dom, "//body").head
      assert(body.childElems.length == 1)
      assert(structurallyEqual(tree, body.childElems.head))
    }
  }

  test("xlsx writer -> reader roundtrips generated sheets (both encodings)") {
    // cells as the writer renders them back out of the reader: strings
    // stay verbatim (incl. XML-hostile chars), numbers in toString form,
    // null sparse cells
    val cellGen: Gen[Any] = Gen.frequency(
      (4, Gen.stringOfN(4, Gen.frequency(
        (6, Gen.alphaNumChar), (1, Gen.oneOf('ü', '&', '<', '"', ' '))))),
      (2, Gen.choose(-99999L, 99999L)),
      (1, Gen.const(null)),
      (1, Gen.oneOf(true, false)))
    val sheetGen: Gen[List[List[Any]]] = for {
      rows <- Gen.choose(1, 12)
      cols <- Gen.choose(1, 6)
      data <- Gen.listOfN(rows, Gen.listOfN(cols, cellGen))
    } yield data
    def expected(v: Any): String = v match {
      case null => null
      case s: String => s
      case b: Boolean => b.toString
      case n => n.toString
    }
    forAll(sheetGen, n = 60) { data =>
      Seq(true, false).foreach { shared =>
        val f = java.nio.file.Files.createTempFile("prop", ".xlsx").toFile
        graft.sources.Xlsx.write(f, data, useSharedStrings = shared)
        val got = graft.sources.Xlsx.sheetRows(
          java.nio.file.Files.readAllBytes(f.toPath))
        f.delete()
        // sparse semantics (xlrd parity): trailing all-null cells within
        // a row, and trailing all-null ROWS, have no stored cells and
        // drop out of the sheet — everything else must roundtrip exactly
        assert(got.length <= data.length)
        got.zip(data).foreach { case (g, e) =>
          assert(g.length <= e.length)
          g.zip(e.map(expected)).foreach { case (a, b) => assert(a == b) }
          e.drop(g.length).foreach(c => assert(c == null))
        }
        data.drop(got.length).foreach(row => assert(row.forall(_ == null)))
      }
    }
  }

  test("xpath descendant search agrees with a direct tree walk") {
    forAll(treeGen(3)) { tree =>
      val dom = Html.parse(s"<html><body>${render(tree)}</body></html>")
      Seq("div", "span", "section", "b", "em").foreach { tag =>
        assert(Xpath.elems(dom, s"//$tag").toSet ==
          dom.descendants.filter(_.tag == tag).toSet)
      }
    }
  }

  test("xpath child and positional steps agree with a model evaluator") {
    def withSelf(e: Html.HElem): Vector[Html.HElem] =
      e +: e.descendants.toVector
    val tags = Seq("div", "span", "section", "b", "em")
    val caseGen = for {
      t <- treeGen(3); x <- Gen.oneOf(tags); y <- Gen.oneOf(tags)
      k <- Gen.choose(1, 3)
    } yield (t, x, y, k)
    forAll(caseGen, n = 200) { case (tree, x, y, k) =>
      val dom = Html.parse(s"<html><body>${render(tree)}</body></html>")
      // //x/y — child step after descendant search (document order)
      val modelChild = withSelf(dom)
        .filter(_.tag == x)
        .flatMap(_.childElems.filter(_.tag == y))
        .distinct
      assert(Xpath.elems(dom, s"//$x/$y") == modelChild, s"//$x/$y")
      // //x[k] — x elements that are the k-th x-child of their parent
      val modelPos = withSelf(dom).flatMap { p =>
        val xs = p.childElems.filter(_.tag == x)
        if (xs.length >= k) Some(xs(k - 1)) else None
      }
      assert(Xpath.elems(dom, s"//$x[$k]") == modelPos, s"//$x[$k]")
      // //x//y — descendant step composition
      val modelDesc = withSelf(dom)
        .filter(_.tag == x)
        .flatMap(_.descendants.filter(_.tag == y))
        .distinct
      assert(Xpath.elems(dom, s"//$x//$y").toSet == modelDesc.toSet,
        s"//$x//$y")
    }
  }

  // ------------------------------------------------- bigram_stats kernel

  test("bigram_stats kernel: model parity on arbitrary token arrays") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val tokGen = Gen.oneOf(Gen.const(""), Gen.const("a"), Gen.const("😀"),
      Gen.const("Mür"), Gen.stringOfN(3, Gen.alphaLowerChar),
      Gen.stringOfN(1, Gen.alphaLowerChar))
    val arrGen = Gen.chooseNum(0, 40).flatMap(n => Gen.listOfN(n, tokGen))
    forAll(arrGen) { toks =>
      val arr = new GenericArrayData(
        toks.map(t => UTF8String.fromString(t): AnyRef).toArray)
      val row = graft.functions.ArrayKernelOps.bigramStats(arr)
      val g2 = if (toks.size >= 2)
        toks.sliding(2).map(_.mkString(" ")).toVector else Vector.empty[String]
      val top = if (g2.isEmpty) 0 else g2.groupBy(identity).values.map(_.size).max
      assert(row.getInt(0) === g2.size, s"n_bigrams for $toks")
      assert(row.getInt(1) === g2.distinct.size, s"n_distinct for $toks")
      assert(row.getInt(2) === top, s"top_count for $toks")
    }
  }

  // ------------------------------------------------------ md5-60 kernel

  test("md5 kernel and DbscanCC.coef equal the SQL h64 form") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val strGen = Gen.oneOf(Gen.const(""), Gen.alphaNumStr,
      Gen.stringOfN(6, Gen.oneOf('ä', 'ö', 'ü', 'ß', 'Ä', 'e', '_')),
      Gen.const("Mür-zu"), Gen.const("😀 x"))
    val coefGen = Gen.zip(Gen.oneOf("", "s", "Mür"), Gen.choose(0, 63),
      Gen.choose(0, 127))
    val strs = scala.collection.mutable.ArrayBuffer.empty[String]
    forAll(strGen)(strs += _)
    val coefs = scala.collection.mutable.ArrayBuffer.empty[(String, Int, Int)]
    forAll(coefGen)(coefs += _)
    assert(strs.contains("") && strs.exists(_.exists("äöüßÄ".contains(_))))
    val inputs = (strs ++ coefs.map { case (s, p, d) => s"$s${p}_$d" }).distinct
    object Q extends graft.queries.QueryBase
    val h64 = inputs.toSeq.toDF("s").select(col("s"), Q.h64(col("s")))
      .as[(String, Long)].collect().toMap
    assert(h64.size == inputs.size)
    strs.foreach { s =>
      assert(graft.functions.ArrayKernelOps.md5LongBytes(s.getBytes("UTF-8"))
        === h64(s), s"md5LongBytes($s)")
    }
    coefs.foreach { case (salt, p, d) =>
      assert(graft.ml.DbscanCC.coef(salt, p, d)
        === h64(s"$salt${p}_$d") % 2001 - 1000, s"coef($salt, $p, $d)")
    }
  }
}
