package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.propBoolean
import org.apache.spark.sql.functions._
import graft.ops.Dedup
import graft.transformers._

/** ScalaCheck property tests (SURVEY §5): invariants the reference's
  * hand-computed fixtures cannot cover — randomized datasets through real
  * Spark execution. Few trials per property (each trial runs Spark jobs);
  * the properties are deterministic given the generated data. */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private val params = SCTest.Parameters.default.withMinSuccessfulTests(8)

  private def check(prop: Prop): Unit = {
    val res = SCTest.check(params, prop)
    withClue(res.status.toString)(res.passed shouldBe true)
  }

  /** [[check]] with an explicit trial count — for driver-side laws
    * (no Spark job per trial) where hundreds of trials are cheap. */
  private def check(prop: Prop, trials: Int): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(trials), prop)
    withClue(res.status.toString)(res.passed shouldBe true)
  }

  private val dataGen: Gen[List[(Option[Double], String)]] =
    Gen.listOfN(
      25,
      Gen.zip(
        Gen.option(Gen.choose(-100.0, 100.0)),
        Gen.oneOf("a", "b", "c", "d")))

  test("property: imputation fills every null and never touches non-null values") {
    check(Prop.forAll(dataGen) { rows =>
      rows.exists(_._1.isDefined) ==> {
        val df = rows.map { case (v, s) => (v.map(Double.box).orNull, s) }
          .toDF("v", "s")
        val out = new MeanMedianImputer(Seq("v"), "mean").fitTransform(df)
          .select("v").collect().map(_.getDouble(0))
        val mean = rows.flatMap(_._1).sum / rows.count(_._1.isDefined)
        rows.map(_._1).zip(out).forall {
          case (Some(orig), got) => got == orig // untouched
          case (None, got) => math.abs(got - mean) < 1e-9 // filled with the mean
        }
      }
    })
  }

  test("property: winsorizing clamps into the learned bounds and is idempotent") {
    check(Prop.forAll(dataGen) { rows =>
      rows.count(_._1.isDefined) >= 3 ==> {
        val df = rows.map { case (v, s) => (v.map(Double.box).orNull, s) }
          .toDF("v", "s")
        val w = new Winsorizer(Seq("v"), 0.1, 0.9, exact = true)
        val once = w.fitTransform(df)
        val twice = w.transform(once)
        val a = once.select("v").collect().map(r => if (r.isNullAt(0)) null else r.getDouble(0))
        val b = twice.select("v").collect().map(r => if (r.isNullAt(0)) null else r.getDouble(0))
        val (lo, hi) = w.boundsLearned("v")
        a.sameElements(b) && a.forall(v => v == null || (v.asInstanceOf[Double] >= lo && v.asInstanceOf[Double] <= hi))
      }
    })
  }

  test("property: equal-width bins label every in-range value (no null labels)") {
    check(Prop.forAll(dataGen) { rows =>
      val vals = rows.flatMap(_._1)
      (vals.size >= 3 && (vals.max - vals.min) > 1e-3) ==> {
        val df = vals.map(Tuple1(_)).toDF("v")
        val out = new EqualWidthDiscretizer(Seq("v"), 4).fitTransform(df)
        out.filter(col("v").isNull).count() == 0L
      }
    })
  }

  test("property: one-hot indicators sum to 1 per non-null row and keep the column") {
    check(Prop.forAll(dataGen) { rows =>
      val df = rows.map { case (v, s) => (v.map(Double.box).orNull, s) }
        .toDF("v", "s")
      val out = new OneHotEncoder(Seq("s")).fitTransform(df)
      val indCols = out.columns.filter(_.startsWith("s_"))
      val sums = out
        .select(indCols.map(col).reduce(_ + _).as("sum"))
        .collect().map(_.getInt(0))
      out.columns.contains("s") && sums.forall(_ == 1)
    })
  }

  test("property: ordinal encoding is the rank in alphabetical category order") {
    check(Prop.forAll(dataGen) { rows =>
      val df = rows.map(_._2).map(Tuple1(_)).toDF("s")
      val cats = rows.map(_._2).distinct.sorted
      val out = new OrdinalEncoder(Seq("s")).fitTransform(df)
        .collect().map(_.getLong(0))
      rows.map(_._2).zip(out).forall { case (s, code) => code == cats.indexOf(s).toLong }
    })
  }

  private val numGen: Gen[List[Double]] =
    Gen.listOfN(20, Gen.choose(-1000.0, 1000.0))

  test("property: StandardScaler output has mean ~0 and population std ~1") {
    check(Prop.forAll(numGen) { xs =>
      (xs.distinct.size > 1) ==> {
        val out = new StandardScaler(Seq("x"))
          .fitTransform(xs.map(Tuple1(_)).toDF("x"))
          .collect().map(_.getDouble(0))
        val mean = out.sum / out.length
        val varp = out.map(v => (v - mean) * (v - mean)).sum / out.length
        math.abs(mean) < 1e-9 && math.abs(varp - 1.0) < 1e-9
      }
    })
  }

  test("property: MinMaxScaler output spans exactly [0, 1] and preserves order") {
    check(Prop.forAll(numGen) { xs =>
      (xs.distinct.size > 1) ==> {
        val out = new MinMaxScaler(Seq("x"))
          .fitTransform(xs.map(Tuple1(_)).toDF("x"))
          .collect().map(_.getDouble(0))
        val sortedIn = xs.zipWithIndex.sortBy(_._1).map(_._2)
        val sortedOut = out.zipWithIndex.sortBy(_._1).map(_._2)
        out.min == 0.0 && out.max == 1.0 && sortedIn == sortedOut.toList
      }
    })
  }

  test("property: hashSample keeps a subset, deterministically, within bounds") {
    check(Prop.forAll(Gen.choose(0, 100)) { pct =>
      val df = (1L to 500L).map(Tuple1(_)).toDF("id")
      val a = graft.ops.Sampling.hashSample(df, "id", pct).collect().map(_.getLong(0)).toSet
      val b = graft.ops.Sampling.hashSample(df, "id", pct).collect().map(_.getLong(0)).toSet
      a == b && a.size <= 500 && (pct != 0 || a.isEmpty) && (pct != 100 || a.size == 500)
    })
  }

  test("property: rangeJoin equals the brute-force inequality join at any bucket width") {
    val fixtureGen = Gen.zip(
      Gen.listOfN(15, Gen.zip(Gen.choose(0L, 200L), Gen.oneOf("x", "y"))),
      Gen.listOfN(8, Gen.zip(Gen.choose(0L, 200L), Gen.choose(0L, 80L), Gen.oneOf("x", "y"))),
      Gen.choose(1L, 64L))
    check(Prop.forAll(fixtureGen) { case (ps, ivs, width) =>
      val pts = ps.zipWithIndex.map { case ((t, k), i) => (i.toLong, t, k) }
        .toDF("pid", "t", "k")
      val ivl = ivs.zipWithIndex.map { case ((s, len, k), i) => (i.toLong, s, s + len, k) }
        .toDF("iid", "s", "e", "k")
      def key(rows: Array[org.apache.spark.sql.Row]) =
        rows.map(r => (r.getLong(r.fieldIndex("pid")), r.getLong(r.fieldIndex("iid")))).toSet
      val brute = key(pts.join(ivl, Seq("k")).filter($"t" >= $"s" && $"t" <= $"e").collect())
      val bucketed = graft.ops.Relational.rangeJoin(
        pts, ivl, "t", "s", "e", Seq("k"), bucketWidth = width)
      key(bucketed.collect()) == brute && bucketed.count() == brute.size
    })
  }

  test("property: chunkTokens covers every token exactly once plus overlaps") {
    val docGen = Gen.zip(
      Gen.choose(0, 40).flatMap(n => Gen.const((1 to n).map(i => s"t$i").mkString(" "))),
      Gen.choose(1, 8)).flatMap { case (text, cs) =>
      Gen.choose(0, cs - 1).map(ov => (text, cs, ov))
    }
    check(Prop.forAll(docGen) { case (text, chunkSize, overlap) =>
      val df = Seq((1L, text)).toDF("doc_id", "text")
      val chunks = graft.ops.TextOps.chunkTokens(df, "text", chunkSize, overlap)
        .orderBy("chunk_id").collect()
      val n = text.split("\\s+").count(_.nonEmpty)
      val total = chunks.map(_.getInt(chunks.head.fieldIndex("chunk_tokens"))).sum
      val nc = chunks.length
      if (n == 0) nc == 0
      else {
        val stride = chunkSize - overlap
        val expectedNc = if (n <= chunkSize) 1 else ((n - chunkSize + stride - 1) / stride) + 1
        // every chunk's token count matches its text; totals = n + shared overlaps
        val textsOk = chunks.forall { r =>
          r.getString(r.fieldIndex("chunk_text")).split(" ").count(_.nonEmpty) ==
            r.getInt(r.fieldIndex("chunk_tokens"))
        }
        // stitching chunk texts (dropping each chunk's leading overlap) rebuilds the doc
        val stitched = chunks.zipWithIndex.map { case (r, i) =>
          val toks = r.getString(r.fieldIndex("chunk_text")).split(" ").toSeq
          if (i == 0) toks else toks.drop(overlap min toks.length)
        }.flatten
        nc == expectedNc && textsOk &&
          total >= n && stitched.toSeq == text.split("\\s+").filter(_.nonEmpty).toSeq
      }
    })
  }

  test("property: sessionize ids are 1-based, contiguous, and split exactly on gaps") {
    val evGen = Gen.listOfN(20, Gen.zip(Gen.choose(0L, 300L), Gen.oneOf(1L, 2L)))
      .map(_.zipWithIndex.map { case ((t, u), i) => (i.toLong, u, t) })
    check(Prop.forAll(evGen, Gen.choose(1L, 60L)) { (rows, gap) =>
      val df = rows.toDF("eid", "user", "t")
      val out = graft.ops.Relational.sessionize(df, Seq("user"), "t", gap, Seq("eid"))
        .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(0),
          r.getLong(r.fieldIndex("session_id"))))
      out.groupBy(_._1).values.forall { g =>
        val sorted = g.sortBy(e => (e._2, e._3))
        sorted.head._4 == 1L && sorted.sliding(2).forall {
          case Array((_, t0, _, s0), (_, t1, _, s1)) =>
            if (t1 - t0 > gap) s1 == s0 + 1 else s1 == s0
          case _ => true
        }
      }
    })
  }

  test("property: salted rolling features equal the plain formulation at any bucket width") {
    val evGen = Gen.listOfN(25,
      Gen.zip(Gen.oneOf(1L, 2L, 3L), Gen.choose(0L, 500L), Gen.choose(-5L, 20L)))
      .map(_.zipWithIndex.map { case ((u, t, v), i) => (i.toLong, u, t, v) })
    // widths below, at, and above the spans — including one small enough to
    // need multiple ghost buckets per event
    val widthGen = Gen.oneOf(7L, 50L, 100L, 400L)
    check(Prop.forAll(evGen, widthGen) { (rows, width) =>
      val df = rows.toDF("eid", "user", "t", "v")
      val spans = Seq("a" -> 25L, "b" -> 120L)
      def key(d: org.apache.spark.sql.DataFrame) = d.collect().map(r =>
        (r.getLong(0), r.getLong(r.fieldIndex("n_a")), r.getLong(r.fieldIndex("sum_a")),
          r.getLong(r.fieldIndex("n_b")), r.getLong(r.fieldIndex("sum_b")))).toSet
      key(graft.ops.Relational.rollingFeaturesSalted(
        df, Seq("user"), "t", "v", spans, width)) ==
        key(graft.ops.Relational.rollingFeatures(df, Seq("user"), "t", "v", spans))
    })
  }

  test("property: looMeanEncode matches the direct leave-one-out computation") {
    val gen = Gen.listOfN(18, Gen.zip(Gen.oneOf("a", "b", "c"),
      Gen.option(Gen.choose(-50L, 50L))))
    check(Prop.forAll(gen) { rows =>
      val df = rows.zipWithIndex.map { case ((c, y), i) => (i.toLong, c, y) }
        .toDF("id", "cat", "y")
      val got = graft.ops.Relational.looMeanEncode(df, "cat", "y", "enc")
        .collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(r.fieldIndex("enc"))) None
           else Some(r.getDouble(r.fieldIndex("enc"))))).toMap
      rows.zipWithIndex.forall { case ((c, y), i) =>
        val others = rows.filter(_._1 == c).flatMap(_._2)
        val expect = y match {
          case Some(v) =>
            val rest = others.diff(Seq(v))
            if (others.size > 1) Some((others.sum - v).toDouble / (others.size - 1))
            else None
          case None =>
            if (others.nonEmpty) Some(others.sum.toDouble / others.size) else None
        }
        got(i.toLong) == expect
      }
    })
  }

  private val textGen: Gen[List[String]] =
    Gen.listOfN(8, Gen.listOfN(30,
      Gen.oneOf(Gen.alphaLowerChar, Gen.const(' '))).map(_.mkString))

  private val mergeGen: Gen[List[(String, String)]] =
    Gen.listOfN(6, Gen.zip(
      Gen.listOfN(2, Gen.alphaLowerChar).map(_.mkString).suchThat(_.nonEmpty),
      Gen.listOfN(1, Gen.alphaLowerChar).map(_.mkString).suchThat(_.nonEmpty)))

  test("property: BPE tokens always concatenate back to the input text") {
    check(Prop.forAll(Gen.zip(textGen, mergeGen)) { case (texts, merges) =>
      val model = graft.ops.Bpe.BpeModel(
        // seed with single-char merges so multi-level merging actually fires
        Seq("a" -> "b", "b" -> "a", "ab" -> "ba") ++ merges)
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("id", "text")
      val out = graft.ops.Bpe.tokenizeBpe(df, "text", model)
        .collect().map(r => r.getLong(0) -> r.getSeq[String](2)).toMap
      texts.zipWithIndex.forall { case (t, i) =>
        val toks = out(i.toLong)
        // lossless segmentation: concat reconstructs the text, counts bound
        toks.mkString == t && toks.size <= t.length &&
          toks.forall(_.nonEmpty)
      }
    })
  }

  test("property: byte-fallback ids round-trip losslessly, even with OOV code points") {
    // texts mix in-alphabet latin, spaces, and OOV chars (accented + CJK +
    // an astral-plane emoji) the vocab's alphabet cannot contain
    val richTextGen: Gen[List[String]] = Gen.listOfN(6, Gen.listOfN(24,
      Gen.oneOf(Gen.alphaLowerChar.map(_.toString), Gen.const(" "),
        Gen.oneOf("é", "à", "中", "文", "😀"))).map(_.mkString))
    check(Prop.forAll(Gen.zip(richTextGen, mergeGen)) { case (texts, merges) =>
      val model = graft.ops.Bpe.BpeModel(
        Seq("a" -> "b", "b" -> "a", "ab" -> "ba") ++ merges)
      // vocab alphabet: ascii only — every non-latin char is OOV
      val vocab = graft.ops.Bpe.vocabOf(model, ('a' to 'z').map(_.toString) :+ " ")
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("id", "text")
      val out = graft.ops.Bpe.encodeIdsBytes(df, "text", model, vocab)
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](2)).toMap
      texts.zipWithIndex.forall { case (t, i) =>
        val ids = out(i.toLong)
        // total round trip: decode(encode(x)) == x, no id unmapped
        graft.ops.Bpe.decodeIdsBytes(ids, vocab) == t &&
          ids.forall(id => id >= 0 && id < 256 + vocab.size)
      }
    })
    // the exported piece table covers the byte floor + the shifted vocab
    val v = graft.ops.Bpe.vocabWithBytes(Seq("a" -> 0, "ab" -> 1))
    v.take(2) shouldBe Seq("<0x00>" -> 0, "<0x01>" -> 1)
    v.drop(256) shouldBe Seq("a" -> 256, "ab" -> 257)
  }

  test("property: BPE native kernel == REPLACE-chain fallback on random data") {
    check(Prop.forAll(Gen.zip(textGen, mergeGen)) { case (texts, merges) =>
      val model = graft.ops.Bpe.BpeModel(
        Seq("a" -> "b", "b" -> "a", "ab" -> "ba") ++ merges)
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("id", "text")
      val native = df
        .select($"id", graft.ops.Bpe.bpeTokens($"text", model).as("t"))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      val fallback = df
        .select($"id", graft.ops.Bpe.bpeTokensFallback($"text", model).as("t"))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      native == fallback
    })
  }

  test("property: pretok BPE is lossless, boundary-respecting, byte-fallback round-trips") {
    import graft.ops.Bpe
    val pat = Bpe.Gpt2PretokPattern
    // latin runs, digits, punctuation, contractions, spaces, and OOV
    // (accented/CJK/astral) — every pre-tokenizer branch fires
    val richTextGen: Gen[List[String]] = Gen.listOfN(5, Gen.listOfN(20,
      Gen.oneOf(Gen.alphaLowerChar.map(_.toString), Gen.const(" "),
        Gen.oneOf("7", ".", ",", "'s", "'t", "é", "中", "😀"))).map(_.mkString))
    check(Prop.forAll(Gen.zip(richTextGen, mergeGen)) { case (texts, merges) =>
      // space-glued merges — legal ONLY in pretok mode, where the GPT-2
      // convention learns them (" a" as one token)
      val model = Bpe.BpeModel(
        Seq(" " -> "a", "a" -> "b", " a" -> "b") ++ merges)
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("id", "text")
      val out = Bpe.tokenizeBpe(df, "text", model, pretok = Some(pat))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](2)).toMap
      val jpat = java.util.regex.Pattern.compile(pat)
      texts.zipWithIndex.forall { case (t, i) =>
        val toks = out(i.toLong)
        // lossless: concat reconstructs the text
        toks.mkString == t && {
          // boundary-respecting: the token stream re-segments into the
          // pre-tokens — walking the tokens never straddles a pre-token
          val m = jpat.matcher(t)
          val pres = Iterator.continually(m).takeWhile(_.find())
            .map(_.group()).toList
          var rest = toks.toList
          pres.forall { p =>
            var acc = ""
            var ok = true
            while (acc.length < p.length && ok) rest match {
              case h :: tl => acc += h; rest = tl
              case Nil => ok = false
            }
            ok && acc == p
          } && rest.isEmpty
        }
      }
    })
    // byte-fallback round trip under pretok: OOV code points expand to
    // UTF-8 bytes and decode back exactly
    val model = Bpe.BpeModel(Seq(" " -> "a", "a" -> "b"))
    val vocab = Bpe.vocabOf(model, ('a' to 'z').map(_.toString) :+ " ")
    val texts = Seq("don't stop 42 times", "café 中文 😀!",
      "  double  spaces ", "")
    val df2 = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    val ids = Bpe.encodeIdsBytes(df2, "text", model, vocab, pretok = Some(pat))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](2)).toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      Bpe.decodeIdsBytes(ids(i.toLong), vocab) shouldBe t
    }
  }

  // ── native kernels vs their pure-Column twins, on random text ──

  /** Random documents over a small vocabulary (so tokens and n-grams
    * repeat), mixed case and non-ASCII, joined by random whitespace runs;
    * NULL and blank documents included. */
  private val docGen: Gen[List[Option[String]]] = {
    val word = Gen.oneOf("a", "b", "ab", "The", "the", "ÜBER", "über", "ça", "x1", "中文")
    val gap = Gen.oneOf(" ", "  ", "\t", "\n", " \r\n ")
    val doc = Gen.choose(0, 12).flatMap(n => Gen.listOfN(n, Gen.zip(gap, word)))
      .flatMap(ws => gap.map(tail => ws.map { case (g, w) => g + w }.mkString + tail))
    Gen.listOfN(10, Gen.frequency(8 -> doc.map(Some(_)), 1 -> Gen.const(None)))
  }

  private def docFrame(docs: List[Option[String]]) =
    docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")

  test("property: token-n-gram hash kernel == Dedup.tokenNgramHashesFallback") {
    check(Prop.forAll(Gen.zip(docGen, Gen.choose(1, 4))) { case (docs, n) =>
      docFrame(docs).select(
        call_function(graft.functions.TilePairs.TokenNgramName, $"text", lit(n)),
        Dedup.tokenNgramHashesFallback($"text", n))
        .collect().forall(r => r.getSeq[Long](0) == r.getSeq[Long](1))
    })
  }

  test("property: hashEmbed's count kernel == Retrieval.hashEmbedFallback") {
    check(Prop.forAll(Gen.zip(docGen, Gen.choose(1, 16), Gen.choose(-5L, 5L))) {
      case (docs, dim, seed) =>
        docFrame(docs).select(
          call_function(graft.functions.TilePairs.HashEmbedName, $"text", lit(dim), lit(seed)),
          graft.ops.Retrieval.hashEmbedFallback($"text", dim, seed))
          .collect().forall { r =>
            if (r.isNullAt(0)) r.isNullAt(1)
            else !r.isNullAt(1) && r.getSeq[Double](0) == r.getSeq[Double](1)
          }
    })
  }

  test("property: robots verdict kernel == Robots.robotsVerdictFallback") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val path = Gen.listOfN(4, Gen.oneOf("/", "a", "b", "?", "x")).map(_.mkString)
    // robots rules compile to anchored regexes: literal prefix, optional
    // wildcard, optional end anchor; NULL patterns and NULL verdicts too
    val pattern = Gen.zip(path, Gen.oneOf("", ".*", ".*b"), Gen.oneOf("", "$"))
      .map { case (p, w, e) => "^/" + java.util.regex.Pattern.quote(p) + w + e }
    val rule = Gen.zip(Gen.option(Gen.choose(0, 1)), Gen.frequency(6 -> pattern.map(Some(_)),
      1 -> Gen.const(None)))
    val rules = Gen.frequency(8 -> Gen.choose(0, 5).flatMap(Gen.listOfN(_, rule)).map(Some(_)),
      1 -> Gen.const(None))
    val target = Gen.frequency(8 -> path.map(p => Some("/" + p)), 1 -> Gen.const(None))
    val schema = StructType(Seq(
      StructField("t", StringType),
      StructField("rules", ArrayType(StructType(Seq(
        StructField("nl", IntegerType), StructField("kr", IntegerType),
        StructField("pat", StringType)))))))
    check(Prop.forAll(Gen.listOfN(12, Gen.zip(target, rules))) { rows =>
      val df = spark.createDataFrame(
        java.util.Arrays.asList(rows.map { case (t, rs) =>
          Row(t.orNull, rs.map(_.map { case (kr, pat) =>
            Row(-pat.fold(0)(_.length), kr.map(Int.box).orNull, pat.orNull)
          }).orNull)
        }: _*),
        schema)
      df.select(
        call_function(graft.functions.TilePairs.RobotsVerdictName, $"t", $"rules"),
        graft.ops.Robots.robotsVerdictFallback($"t", $"rules"))
        .collect().forall(r => Option(r.get(0)) == Option(r.get(1)))
    })
  }

  test("property: TextOps.repetitionFeatures == repetitionFeaturesFallback") {
    import graft.ops.TextOps
    def features(f: (org.apache.spark.sql.DataFrame, String) => org.apache.spark.sql.DataFrame,
        df: org.apache.spark.sql.DataFrame) =
      f(df, "text").select("id", "rep_dup_word_frac", "rep_top_word_frac",
        "rep_top_bigram_frac").collect().map(_.toSeq).toSet
    check(Prop.forAll(docGen) { docs =>
      val df = docFrame(docs)
      features(TextOps.repetitionFeatures, df) == features(TextOps.repetitionFeaturesFallback, df)
    })
  }

  test("property: keepTopFraction keeps >= the requested share, all above threshold") {
    val scoresGen = Gen.listOfN(40, Gen.choose(-50.0, 50.0))
    check(Prop.forAll(Gen.zip(scoresGen, Gen.choose(1, 9))) { case (scores, tenths) =>
      val frac = tenths / 10.0
      val df = scores.zipWithIndex.map { case (s, i) => (i.toLong, s) }
        .toDF("id", "score")
      val kept = graft.ops.Sampling.keepTopFraction(df, "score", frac)
        .collect().map(r => r.getDouble(1))
      val n = scores.size
      // at least ceil(frac·n) rows survive (ties keep extras, never fewer)
      // and every kept score dominates every dropped score
      kept.size >= math.ceil(frac * n).toInt - 1 &&
        (kept.isEmpty || scores.sorted.reverse.take(kept.size).sum >= kept.sum - 1e-9)
    })
  }

  test("property: upsampleGroups mass matches per-row integer copies; epochs contiguous") {
    val factorGen = Gen.choose(0, 35).map(_ / 10.0) // 0.0 .. 3.5 in tenths
    check(Prop.forAll(Gen.zip(factorGen, factorGen)) { case (fa, fb) =>
      val df = (0L until 60L).map(i => (i, if (i % 2 == 0) "a" else "b"))
        .toDF("id", "grp")
      val out = graft.ops.Sampling.upsampleGroups(
        df, "grp", "id", Map("a" -> fa, "b" -> fb))
        .collect().map(r => (r.getLong(0), r.getInt(2)))
      val byId = out.groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
      val m = 2147483647L
      def copies(id: Long, f: Double): Long = {
        val whole = math.floor(f).toLong
        val thr = math.round((f - whole) * 1000000L)
        val h = (((id % m) * 48271 % m) * 48271 % m) % 1000000
        whole + (if (h < thr) 1L else 0L)
      }
      (0L until 60L).forall { id =>
        val exp = copies(id, if (id % 2 == 0) fa else fb)
        byId.getOrElse(id, Seq.empty) == (0L until exp).map(_.toInt)
      }
    })
  }

  test("property: pruneByPrototypicality keeps ⌈n(1−f)⌉ per cell, the hardest ones") {
    val fracGen = Gen.choose(0, 10).map(_ / 10.0)
    check(Prop.forAll(Gen.zip(fracGen, Gen.choose(5, 30))) { case (frac, n) =>
      // one cell: all vectors share the (1,0) centroid's halfspace
      val m = graft.ops.Similarity.IvfModel(Seq(Seq(1.0, 0.0)))
      val df = (0 until n).map { i =>
        (i.toLong, Seq(1.0f, i.toFloat / n)) // increasing angle → decreasing proto
      }.toDF("vec_id", "embedding")
      val kept = graft.ops.Similarity
        .pruneByPrototypicality(df, "vec_id", "embedding", m, frac)
        .collect().map(_.getLong(0)).sorted.toSeq
      val cut = n * math.round(frac * 1000000L) / 1000000L
      // ids ascend with proto DESCENDING? no: larger i → larger angle →
      // smaller proto → dropEasiest removes the SMALLEST ids first
      kept == (cut until n.toLong)
    })
  }

  /** Randomized URL shapes: optional case-mixed scheme/host, userinfo,
    * default/explicit ports, multi-label hosts with an optional leading
    * www, paths, shuffled queries (tracking keys mixed in), fragments. */
  private val urlGen: Gen[String] = for {
    scheme <- Gen.oneOf("http", "HTTP", "https", "HtTpS")
    user <- Gen.option(Gen.const("u:p@"))
    www <- Gen.oneOf("", "www.", "WWW.")
    labels <- Gen.choose(1, 3).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("ex", "Site", "blog", "a1")))
    tld <- Gen.oneOf("com", "co.uk", "net")
    port <- Gen.oneOf("", ":80", ":443", ":8080")
    path <- Gen.oneOf("", "/", "/A/b", "/p/Q")
    qparts <- Gen.someOf("b=2", "a=1", "utm_source=x", "gclid=1", "z=Z")
    frag <- Gen.oneOf("", "#x", "#/route?tab=1")
  } yield s"$scheme://${user.getOrElse("")}$www${labels.mkString(".")}.$tld" +
    s"$port$path${if (qparts.isEmpty) "" else qparts.mkString("?", "&", "")}$frag"

  test("property: canonicalizeUrl is idempotent; surt/strip stable under re-canonicalization") {
    import graft.ops.Url
    check(Prop.forAll(Gen.listOfN(12, urlGen)) { urls =>
      val df = urls.zipWithIndex.map { case (u, i) => (i.toLong, u) }
        .toDF("id", "url")
        .select(
          col("id"),
          Url.canonicalizeUrl(col("url")).as("c1"))
        .select(
          col("id"), col("c1"),
          Url.canonicalizeUrl(col("c1")).as("c2"),
          Url.surtKey(col("c1")).as("s1"),
          Url.stripTrackingParams(col("c1")).as("t1"))
        .select(col("*"),
          Url.surtKey(col("c2")).as("s2"),
          Url.stripTrackingParams(col("t1")).as("t2"),
          Url.canonicalizeUrl(col("t1")).as("t1c"))
      df.collect().forall { r =>
        r.getString(1) == r.getString(2) && // canonical idempotent
          r.getString(3) == r.getString(5) && // surt(c) == surt(canon(c))
          r.getString(4) == r.getString(6) && // strip idempotent
          // stripping a canonical URL yields a STILL-canonical URL
          r.getString(4) == r.getString(7)
      }
    })
  }

  test("property: surtKey sorts one authority's captures contiguously (prefix = lookup)") {
    import graft.ops.Url
    // the group is the AUTHORITY (host + kept port): a host with an
    // explicit non-default port keys as `…:8080)` which sorts AFTER its
    // subdomains' `…,sub)` keys (')' < ',' < ':') — bare-host grouping
    // would falsely flag that as a split run
    check(Prop.forAll(Gen.listOfN(10, urlGen)) { urls =>
      val rows = urls.zipWithIndex.map { case (u, i) => (i.toLong, u) }
        .toDF("id", "url")
        .select(
          regexp_extract(Url.canonicalizeUrl(col("url")),
            "^[a-z][a-z0-9+.-]*://([^/?#]*)", 1).as("auth"),
          Url.surtKey(col("url")).as("k"))
        .collect().filter(r => !r.isNullAt(1))
        .map(r => (r.getString(0).replaceFirst("^www\\.", ""), r.getString(1)))
      val sortedAuths = rows.sortBy(_._2).map(_._1)
      val runs = sortedAuths.foldLeft(List.empty[String]) {
        case (acc, h) if acc.headOption.contains(h) => acc
        case (acc, h) => h :: acc
      }
      runs.distinct.size == runs.size // no authority appears in two runs
    })
  }

  test("property: paragraph dedup is idempotent, loses no distinct paragraph, keeps each exactly once") {
    // small alphabet of paragraphs → heavy cross-document repetition
    val paraGen = Gen.oneOf("alpha", "beta", "gamma", "delta", "eps one two")
    val docGen = Gen.listOfN(4, paraGen).map(_.mkString("\n"))
    check(Prop.forAll(Gen.listOfN(8, docGen)) { texts =>
      val d = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val out = graft.ops.Dedup.dedupParagraphsExact(d, "doc_id", "text")
      val kept = out.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val allKeptParas = kept.values.flatMap(_.split("\n")).toList
      val distinctIn = texts.flatMap(_.split("\n+"))
        .map(_.trim).filter(_.nonEmpty).distinct.sorted
      // every distinct input paragraph survives somewhere, exactly once
      val once = allKeptParas.sorted == distinctIn
      // accounting: kept totals = the distinct paragraph count, and each
      // SURVIVING doc's kept+dropped equals its own paragraph count (an
      // all-duplicate doc vanishes WITH its accounting — the documented
      // C4 drop semantics; coalesce covers an all-boilerplate corpus)
      val keptTotal = out.agg(coalesce(sum("n_kept"), lit(0L)))
        .head().getLong(0)
      val perDocIn = texts.zipWithIndex.map { case (t, i) =>
        i.toLong -> t.split("\n+").count(_.trim.nonEmpty).toLong
      }.toMap
      val perDoc = out.select("doc_id", "n_kept", "n_dropped").collect()
        .forall(r => r.getLong(1) + r.getLong(2) == perDocIn(r.getLong(0)))
      val conserved = keptTotal == distinctIn.size.toLong && perDoc
      // idempotent: a second pass over the deduped corpus drops nothing
      val again = graft.ops.Dedup.dedupParagraphsExact(
        out.select(col("doc_id"), col("text_dedup").as("text")),
        "doc_id", "text")
      val stable = again.collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap == kept
      once && conserved && stable
    })
  }

  /** Driver-side BFS over the graph `edges` induces on `ids`: each id →
    * the smallest id of its component — the duplicateClusters reference. */
  private def bfsComponents(ids: Set[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val adj = edges.filter { case (a, b) => ids(a) && ids(b) }
      .flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupMap(_._1)(_._2)
    ids.iterator.map { start =>
      val seen = scala.collection.mutable.Set(start)
      val queue = scala.collection.mutable.Queue(start)
      while (queue.nonEmpty)
        adj.getOrElse(queue.dequeue(), Nil).foreach(n => if (seen.add(n)) queue.enqueue(n))
      start -> seen.min
    }.toMap
  }

  private def clusterRows(out: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
    out.collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq.sorted

  /** True when the frame's plan reads a checkpoint — the iterative path's
    * mark (the driver path keeps lineage). */
  private def checkpointed(out: org.apache.spark.sql.DataFrame): Boolean =
    out.queryExecution.logical.exists(_.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD])

  test("property: duplicateClusters driver path == iterative path == BFS components") {
    // ids 0..20 may be in df; 21..24 only ever appear as edge endpoints
    val id = Gen.choose(0L, 24L)
    val shape: Gen[List[(Long, Long)]] = Gen.oneOf(
      Gen.listOfN(6, id).map(c => c.zip(c.drop(1))), // chain
      Gen.zip(id, Gen.listOfN(5, id)).map { case (c, ls) => ls.map(c -> _) }, // star
      Gen.listOfN(4, id).map(c => for (a <- c; b <- c if a < b) yield a -> b), // clique
      id.map(x => List(x -> x))) // self-loop
    val graphGen = for {
      ids <- Gen.resize(30, Gen.listOf(Gen.choose(0L, 20L))) // repeats; may be empty
      edges <- Gen.resize(6, Gen.listOf(shape)).map(_.flatten) // may be empty
      again <- Gen.someOf(edges) // duplicated and reversed copies
    } yield (ids, edges ++ again ++ again.map(_.swap))
    def law(ids: List[Long], edges: List[(Long, Long)]): Boolean = {
      val df = ids.toDF("doc_id")
      val pairs = edges.toDF("id_a", "id_b")
      val truth = bfsComponents(ids.toSet, edges).toSeq.sorted
      val onDriver = Dedup.duplicateClusters(df, "doc_id", pairs)
      !checkpointed(onDriver) && clusterRows(onDriver) == truth &&
        clusterRows(Dedup.duplicateClustersIterative(df, "doc_id", pairs)) == truth
    }
    law(Nil, List(1L -> 2L)) shouldBe true // empty df
    law(List(1L, 2L, 3L), Nil) shouldBe true // empty pairs
    check(Prop.forAll(graphGen) { case (ids, edges) => law(ids, edges) })
  }

  test("duplicateClusters: a star one edge over the driver bound takes the iterative path") {
    val cap = Dedup.MaxDriverClusterEdges.toLong
    // center 0 + cap + 1 leaves (converges in 2 rounds) + 3 singletons
    val ids = (0L to cap + 4).toDF("doc_id")
    val pairs = (1L to cap + 1).map(0L -> _).toDF("id_a", "id_b")
    val out = Dedup.duplicateClusters(ids, "doc_id", pairs)
    checkpointed(out) shouldBe true
    val labels = clusterRows(out)
    labels shouldBe clusterRows(Dedup.duplicateClustersIterative(ids, "doc_id", pairs))
    labels shouldBe (0L to cap + 4).map(i => i -> (if (i <= cap + 1) 0L else i))
  }

  test("property: politeness slots respect the delay and never precede the event") {
    import java.sql.Timestamp
    val rowGen = for {
      host <- Gen.oneOf("a.com", "b.com", "c.com")
      url <- Gen.choose(0, 999).map(i => s"https://x/$i")
      min <- Gen.choose(0, 30)
    } yield (host, Timestamp.valueOf(f"2024-01-01 10:$min%02d:00"), url)
    check(Prop.forAll(Gen.listOfN(20, rowGen)) { rows =>
      val d = rows.toDF("host", "ts", "url")
        .withColumn("crawl_delay_sec",
          expr("CAST(length(host) % 3 + 1 AS DOUBLE) * 0.5"))
        .dropDuplicates("host", "ts", "url") // total order per host
      val out = graft.streaming.StreamingOps
        .politenessSchedule(d, "host", "url", "crawl_delay_sec")
        .collect()
        .map(r => (r.getAs[String]("host"), r.getAs[Timestamp]("ts"),
          r.getAs[String]("url"), r.getAs[Double]("crawl_delay_sec"),
          r.getAs[Long]("scheduled_at_ms")))
      val byHost = out.groupBy(_._1)
      byHost.values.forall { hs =>
        val ordered = hs.sortBy(h => (h._2.getTime, h._3))
        // a slot never precedes its event time
        val causal = ordered.forall(h => h._5 >= h._2.getTime)
        // consecutive slots are at least the delay apart
        val spaced = ordered.zip(ordered.drop(1)).forall { case (a, b) =>
          b._5 - a._5 >= math.round(a._4 * 1000.0)
        }
        causal && spaced
      }
    })
  }

  test("property: jpegDims round-trips random dimensions behind random segment prefixes") {
    def hx(h: String): Array[Byte] =
      h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    def be16(v: Int): Array[Byte] = Array((v >> 8).toByte, v.toByte)
    val segGen: Gen[Array[Byte]] = for {
      kind <- Gen.oneOf("FFE0", "FFE1", "FFDB", "FFFE")
      body <- Gen.choose(0, 24).flatMap(n => Gen.listOfN(n, Gen.choose(0, 255)))
    } yield hx(kind) ++ be16(body.length + 2) ++ body.map(_.toByte).toArray
    val caseGen = for {
      w <- Gen.choose(1, 65535)
      h <- Gen.choose(1, 65535)
      segs <- Gen.listOfN(3, segGen)
      sof <- Gen.oneOf("FFC0", "FFC1", "FFC2")
    } yield (w, h,
      hx("FFD8") ++ segs.flatten.toArray ++
        hx(sof + "000B08") ++ be16(h) ++ be16(w) ++ hx("01011100"))
    check(Prop.forAll(Gen.listOfN(6, caseGen)) { cases =>
      val d = cases.zipWithIndex.map { case ((_, _, b), i) => (i, b) }
        .toDF("id", "payload")
      val got = graft.ops.Multimodal.imageDims(d, "payload")
        .orderBy("id").select("img_width", "img_height")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toList
      got == cases.map { case (w, h, _) => (w.toLong, h.toLong) }
    })
  }

  test("property: unigram Viterbi is score-OPTIMAL and total on random tables") {
    // The kernel's DP is checked against an INDEPENDENT driver-side
    // best-score recursion (memoized, different code shape): for any
    // piece table and text, the kernel's segmentation must (a) concat
    // back to the text exactly, (b) cover it with table pieces or
    // single unknown code points only, and (c) achieve the OPTIMAL
    // total score. Scores are multiples of 0.25 so every partial sum is
    // exact in binary64 — score equality is exact, no epsilon.
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String
    val astral = new String(Character.toChars(0x1F600))
    val alphabet = Vector("a", "b", "c", "d", " ", "▁", astral)
    val pieceGen = for {
      len <- Gen.choose(1, 3)
      cs <- Gen.listOfN(len, Gen.oneOf(alphabet))
      q <- Gen.choose(-40, -4) // quarters: scores in [-10, -1]
    } yield (cs.mkString, q / 4.0)
    val tableGen = Gen.listOfN(12, pieceGen)
      .map(_.toMap) // dedup surfaces, last wins — a valid table either way
      .suchThat(_.nonEmpty)
    val textGen = Gen.choose(0, 24)
      .flatMap(n => Gen.listOfN(n, Gen.oneOf(alphabet ++ Vector("z"))))
      .map(_.mkString)
    def refBest(text: String, table: Map[String, Double], unk: Double): Double = {
      // independent formulation: recursion over SUFFIX start, memoized
      val cps = text.codePoints().toArray
      val starts = {
        val arr = new Array[Int](cps.length + 1)
        var i = 0; var o = 0
        while (i < cps.length) { arr(i) = o; o += Character.charCount(cps(i)); i += 1 }
        arr(cps.length) = text.length
        arr
      }
      val memo = new Array[Double](cps.length + 1)
      java.util.Arrays.fill(memo, Double.NaN)
      def go(i: Int): Double = {
        if (i == cps.length) return 0.0
        if (!memo(i).isNaN) return memo(i)
        var b = unk + go(i + 1) // unknown code point
        var L = 1
        while (L <= cps.length - i) {
          val cand = text.substring(starts(i), starts(i + L))
          table.get(cand).foreach { s =>
            val v = s + go(i + L)
            if (v > b) b = v
          }
          L += 1
        }
        memo(i) = b
        b
      }
      go(0)
    }
    val child = Literal.create(null, StringType)
    check(Prop.forAll(tableGen, textGen) { (table, text) =>
      val surfaces = table.keys.toSeq
      val scores = surfaces.map(table)
      val k = graft.functions.SpUnigramEncode(child,
        Literal.create(
          new GenericArrayData(surfaces.map(s => UTF8String.fromString(s): Any).toArray),
          ArrayType(StringType)),
        Literal.create(new GenericArrayData(scores.toArray[Any]),
          ArrayType(DoubleType)))
      val out = k.compute(UTF8String.fromString(text)).asInstanceOf[ArrayData]
      val toks = (0 until out.numElements()).map(out.getUTF8String(_).toString)
      val unk = scores.min - 10.0
      // a non-table token must be exactly ONE code point (unknown)
      var badUnknown: String = null
      val total = toks.map(t =>
        table.getOrElse(t, {
          if (t.codePointCount(0, t.length) != 1 && badUnknown == null)
            badUnknown = t
          unk
        })).sum
      (badUnknown == null) :| s"multi-cp unknown token '$badUnknown'" &&
        (toks.mkString == text) :| "concat law" &&
        (total == refBest(text, table, unk)) :|
        s"suboptimal: $total vs ${refBest(text, table, unk)} for '$text'"
    }, 300)
  }

  test("property: byte-walk kernels never throw on arbitrary bytes; GPS strip is idempotent") {
    // A framework whose primary input is UNTRUSTED crawl bytes must treat
    // "malformed" as a value (NULL / pass-through), never an exception —
    // the walks' contract, fuzzed here driver-side (no Spark job per
    // trial, so thousands of adversarial payloads are cheap). Each random
    // body is also re-tested under every format's magic prefix, which
    // steers the fuzz INTO the walk instead of dying at the sniff.
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.BinaryType
    import graft.functions._
    val child = Literal.create(null, BinaryType)
    val kernels: Seq[(String, Array[Byte] => Any)] = Seq(
      "jpeg_dims" -> JpegDims(child).compute _,
      "exif_orientation" -> ExifOrientation(child).compute _,
      "exif_gps" -> ExifGps(child).compute _,
      "exif_gps_strip" -> ExifGpsStrip(child).compute _,
      "riff_duration" -> RiffDuration(child).compute _,
      "mp4_duration" -> Mp4Duration(child).compute _,
      "mp3_duration" -> Mp3Duration(child).compute _,
      "flac_duration" -> FlacDuration(child).compute _,
      "ogg_duration" -> OggDuration(child).compute _,
      "webp_dims" -> WebpDims(child).compute _,
      "isobmff_dims" -> IsoBmffDims(child).compute _,
      "webm_duration" -> WebmDuration(child).compute _,
      "exif_tags" -> ExifTags(child).compute _,
      "mp3_tags" -> Mp3Tags(child).compute _,
      "pdf_text" -> PdfText(child).compute _,
      "pdf_info" -> PdfInfo(child).compute _)
    def hx(h: String): Array[Byte] =
      h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    val prefixes: Seq[Array[Byte]] = Seq(
      Array.emptyByteArray,
      hx("FFD8"), // JPEG SOI
      hx("FFD8FFE1"), // SOI + APP1 marker (length bytes come from the fuzz)
      "ID3".getBytes, // ID3v2
      hx("FFFB"), // bare MPEG sync
      hx("52494646AAAAAAAA57415645"), // RIFF/WAVE
      hx("0000001066747970AAAAAAAA"), // BMFF ftyp
      // round-15 steering: ftyp + meta/iprp/ipco/pitm headers so the
      // fuzz reaches the ispe/ipma parses instead of dying at findBox
      hx("0000001066747970617669660000000000000040" + "6D657461" +
        "00000000" + "0000000E" + "7069746D" + "00000000" + "0001" +
        "00000026" + "69707270" + "0000000E" + "6970636F" + "00000014" +
        "69737065"),
      hx("0000001066747970686569630000000000000030" + "6D657461" +
        "00000000" + "00000024" + "69707270" + "00000010" + "69706D61" +
        "00000001"),
      "fLaC".getBytes, // FLAC magic (metadata-block walk)
      // EBML magic + header, Segment and Info headers: steers into the
      // VINT id/size reads and the TimestampScale/Duration parses
      hx("1A45DFA3" + "87" + "4282" + "84" + "7765626D" + "18538067" + "FF" +
        "1549A966" + "97" + "2AD7B1"),
      "OggS".getBytes, // Ogg capture pattern (page walk)
      "%PDF-1.7\n".getBytes, // PDF header
      // PDF header + dict + stream keyword: steers the fuzz into the
      // stream walk, the Inflater error path, and the content tokenizer
      "%PDF-1.7\n<< /Filter /FlateDecode >>\nstream\n".getBytes,
      "%PDF-1.4\n<< >>\nstream\nBT (".getBytes, // unterminated string
      "%PDF-1.6\ntrailer << /Info ".getBytes, // Info-ref walk steering
      // round-14 steering: object table + /Font→/ToUnicode resolution +
      // CMap parse on fuzz bytes (compute only walks fonts when the
      // /ToUnicode token appears, so random bodies never reach it alone)
      ("%PDF-1.6\n1 0 obj\n<< /Resources << /Font << /F1 2 0 R >> >> >>\n" +
        "2 0 obj\n<< /ToUnicode 3 0 R >>\n3 0 obj\n<< >>\nstream\n" +
        "begincodespacerange <00").getBytes,
      ("%PDF-1.5\n<< /ToUnicode 9 0 R >>\nbeginbfrange <00> <FF> ").getBytes,
      // ObjStm member walk + the LZW/predictor decode paths
      ("%PDF-1.5\ntrailer << /Info 20 0 R >>\n21 0 obj\n" +
        "<< /Type /ObjStm /N 2 /First 8 /Filter /FlateDecode " +
        "/DecodeParms << /Predictor 12 /Columns 3 >> >>\nstream\n").getBytes,
      "%PDF-1.2\n<< /Filter /LZWDecode >>\nstream\n".getBytes,
      // XMP packet fallback scan
      "%PDF-1.7\ntrailer << >>\n<?xpacket begin=\"\"?><dc:title>".getBytes,
      // round-15 steering: /Encrypt dict parse + key derivation + /U
      // verification on fuzz bytes (indirect and direct-dict forms —
      // the O/U/ID string reads and the V/R/P/Length parses all fuzz)
      ("%PDF-1.6\ntrailer << /Encrypt 4 0 R /ID [<00FF01> (x)] >>\n" +
        "4 0 obj\n<< /Filter /Standard /V 2 /R 3 /Length 128 /P -3904 /O <").getBytes,
      ("%PDF-1.4\ntrailer << /Encrypt << /Filter /Standard /V 4 /R 4 " +
        "/CF << /StdCF << /CFM /AESV2 >> >> /P -1 /O (").getBytes,
      // V5/AES-256 steering: the R6 Algorithm-2.B path + /UE parse run
      // against fuzz-completed U/UE strings
      ("%PDF-2.0\ntrailer << /Encrypt << /Filter /Standard /V 5 /R 6 " +
        "/CF << /StdCF << /CFM /AESV3 >> >> /P -4 /O <00> /UE <11> /U <").getBytes)
    val bodyGen = Gen.choose(0, 300)
      .flatMap(n => Gen.listOfN(n, Gen.choose(0, 255)))
      .map(_.map(_.toByte).toArray)
    val fuzzParams = SCTest.Parameters.default.withMinSuccessfulTests(400)
    val res = SCTest.check(fuzzParams, Prop.forAll(bodyGen) { body =>
      prefixes.forall { p =>
        val payload = p ++ body
        kernels.forall { case (name, k) =>
          try { k(payload); true }
          catch { case e: Throwable =>
            println(s"$name threw ${e.getClass.getSimpleName} on " +
              payload.map("%02X".format(_)).mkString)
            false
          }
        } && {
          // strip is idempotent, and its verdict half agrees: once
          // stripped, gps_present can never still be true
          val strip = ExifGpsStrip(child)
          val once = strip.compute(payload)
          java.util.Arrays.equals(strip.compute(once), once) && {
            ExifGps(child).compute(once) match {
              case null => true
              case r: org.apache.spark.sql.catalyst.InternalRow => !r.getBoolean(0)
            }
          }
        }
      }
    })
    withClue(res.status.toString)(res.passed shouldBe true)
  }
}
