package graft

class SqlFunctionsSpec extends SparkSpecBase {

  test("graft functions are callable from SQL after registerAll") {
    GraftSession.prepare(spark)
    val r = spark.sql(
      """SELECT hilbert_index(3, 4, 14) AS h,
        |       morton_index(3, 4, 14) AS m,
        |       minhash(array('a b c', 'b c d'), 8) AS sig,
        |       simhash64(array('tok1', 'tok2', 'tok3')) AS sh,
        |       shingles3(array('a', 'b', 'c', 'd')) AS sg,
        |       salted_md5_minhash(array('a b c'), 4) AS smh
        |""".stripMargin).collect()(0)
    assert(r.getLong(0) === graft.expressions.HilbertIndex.xy2d(14, 3, 4))
    assert(r.getLong(1) === graft.expressions.MortonIndex.interleave(14, 3, 4))
    assert(r.getSeq[Long](2).length === 8)
    assert(r.getLong(3) !== 0L)
    assert(r.getSeq[String](4) === Seq("a b c", "b c d"))
    assert(r.getSeq[Long](5).length === 4)
  }

  test("a second prepare leaves the registered functions as they are") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val registry = spark.sessionState.functionRegistry
    val id = FunctionIdentifier("hilbert_index")
    // a capture-free builder lambda is one object however often it is
    // made, so the ExpressionInfo made with each registration is what
    // shows a replacement
    def registered() = (registry.lookupFunction(id).get, registry.lookupFunctionBuilder(id).get)
    GraftSession.prepare(spark)
    val (info, builder) = registered()
    GraftSession.prepare(spark)
    val (info2, builder2) = registered()
    assert((info2 eq info) && (builder2 eq builder),
      "prepare must not replace a registered function")
  }

  test("porter_stem expression ≡ PorterStemmer.stem through the codegen path") {
    import spark.implicits._
    val words = Seq("caresses", "ponies", "relational",
      "generalizations", "hopping", "sky", "a", "oscillators")
    val got = words.toDF("w")
      .select(graft.functions.porter_stem($"w"))
      .as[String].collect()
    assert(got.toSeq === words.map(graft.text.PorterStemmer.stem))
    // null-safety through the generated code
    val nulls = Seq[Option[String]](Some("falling"), None).toDF("w")
      .select(graft.functions.porter_stem($"w")).collect()
    assert(nulls(0).getString(0) === "fall" && nulls(1).isNullAt(0))
  }

  test("word_ngrams / shingles_n ≡ the transform/slice SQL chain (size >= n)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    def sqlChain(toks: org.apache.spark.sql.Column, n: Int) =
      transform(sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n))))
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .withColumn("toks", split($"text", " "))
    for (n <- Seq(2, 8)) {
      // the kernels are only defined on the chain's guarded domain
      val guarded = docs.filter(size($"toks") >= n)
      val mism = guarded.select(
          graft.functions.word_ngrams($"toks", n).as("fa"),
          sqlChain($"toks", n).as("ra"),
          graft.functions.shingles_n($"toks", n).as("fd"),
          array_distinct(sqlChain($"toks", n)).as("rd"))
        .filter(not($"fa" <=> $"ra") || not($"fd" <=> $"rd")).count()
      assert(mism === 0L, s"n=$n")
    }
    // adversarial literals: repeats, empty tokens, null element
    // (concat_ws skips it), exactly-n, and the below-n empty contract
    val tricky = Seq(
      Seq("a", "b"), Seq("a", "a", "a", "a"), Seq("", "", ""),
      Seq("x", "", "y", ""), Seq("a b", "c", "a", "b c")).toDF("toks")
      .select(graft.functions.word_ngrams($"toks", 2).as("fa"),
        sqlChain($"toks", 2).as("ra"),
        graft.functions.shingles_n($"toks", 2).as("fd"),
        array_distinct(sqlChain($"toks", 2)).as("rd"))
    assert(tricky.filter(not($"fa" <=> $"ra") || not($"fd" <=> $"rd"))
      .count() === 0L)
    val below = Seq(Seq("a"), Seq.empty[String]).toDF("toks")
      .select(graft.functions.word_ngrams($"toks", 2).as("fa"),
        graft.functions.shingles_n($"toks", 8).as("fd")).collect()
    assert(below.forall(r =>
      r.getSeq[String](0).isEmpty && r.getSeq[String](1).isEmpty))
    val nullElem = Seq(Seq("a", null, "c", "d")).toDF("toks")
      .select(graft.functions.word_ngrams($"toks", 2).as("fa"),
        sqlChain($"toks", 2).as("ra"))
    assert(nullElem.filter(not($"fa" <=> $"ra")).count() === 0L)
  }

  test("char_trigrams ≡ the transform/substring SQL chain (length >= 3)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val sqlChain = expr(
      "transform(sequence(1, length(text) - 2), i -> substring(text, i, 3))")
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .filter(length($"text") >= 3)
    val mism = docs.select(
        graft.functions.char_trigrams($"text").as("fast"),
        sqlChain.as("ref"))
      .filter(not($"fast" <=> $"ref")).count()
    assert(mism === 0L)
    // multi-byte UTF-8 (2/3/4-byte chars), spaces, exactly 3 chars,
    // and the below-3 empty contract
    val tricky = Seq("abc", "abcd", "héllo wörld", "日本語のテキスト",
      "mixé日本x", "a é 日 😀 z", "  a  ").toDF("text")
      .select(graft.functions.char_trigrams($"text").as("fast"),
        sqlChain.as("ref"))
    assert(tricky.filter(not($"fast" <=> $"ref")).count() === 0L)
    val below = Seq("ab", "").toDF("text")
      .select(graft.functions.char_trigrams($"text")).collect()
    assert(below.forall(_.getSeq[String](0).isEmpty))
    val nulls = Seq[Option[String]](Some("abcd"), None).toDF("text")
      .select(graft.functions.char_trigrams($"text")).collect()
    assert(nulls(0).getSeq[String](0) === Seq("abc", "bcd") &&
      nulls(1).isNullAt(0))
  }

  test("shingles3 ≡ the array_distinct/transform/slice SQL chain") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    def sqlChain(toks: org.apache.spark.sql.Column) =
      array_distinct(transform(
        sequence(lit(1), greatest(size(toks) - 2, lit(1))),
        i => concat_ws(" ", slice(toks, i, lit(3)))))
    // real corpus, including order of elements (<=> on the arrays)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .withColumn("toks", split($"text", " "))
    val mism = docs
      .select(graft.functions.shingles3($"toks").as("fast"),
        sqlChain($"toks").as("ref"))
      .filter(not($"fast" <=> $"ref")).count()
    assert(mism === 0L)
    // short arrays (n<3: one stub shingle), repeats, empty tokens,
    // empty array, null element (concat_ws skips it)
    val tricky = Seq(
      Seq("a"), Seq("a", "b"), Seq("a", "b", "c"),
      Seq("a", "a", "a", "a"), Seq("", "", ""), Seq("x", "", "y", ""),
      Seq("a b", "c", "d", "a", "b c", "d")).toDF("toks")
      .select(graft.functions.shingles3($"toks").as("fast"),
        sqlChain($"toks").as("ref"))
    assert(tricky.filter(not($"fast" <=> $"ref")).count() === 0L)
    val withNull = spark.sql(
      "SELECT array('x', CAST(NULL AS STRING), 'y', 'z') AS toks")
      .select(graft.functions.shingles3($"toks").as("fast"),
        sqlChain($"toks").as("ref"))
    assert(withNull.filter(not($"fast" <=> $"ref")).count() === 0L)
    val empty = spark.sql("SELECT CAST(array() AS ARRAY<STRING>) AS toks")
      .select(graft.functions.shingles3($"toks").as("fast"),
        sqlChain($"toks").as("ref"))
    assert(empty.filter(not($"fast" <=> $"ref")).count() === 0L)
  }

  test("salted_md5_minhash ≡ the oracle's conv/substring/md5 SQL chain") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val numHashes = 16
    def sqlChain(sh: org.apache.spark.sql.Column) =
      transform(sequence(lit(0), lit(numHashes - 1)),
        i => array_min(transform(sh, s =>
          conv(substring(md5(concat_ws(":", i.cast("string"), s)
            .cast("binary")), 1, 12), 16, 10).cast("long"))))
    // real corpus: every document's 3-token shingle set (the C20/C21
    // input shape), both paths equal
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .withColumn("toks", split($"text", " "))
      .filter(size($"toks") >= 3)
      .withColumn("sh", array_distinct(transform(
        sequence(lit(1), greatest(size($"toks") - 2, lit(1))),
        i => concat_ws(" ", slice($"toks", i, lit(3))))))
    val mismatches = docs
      .select(graft.functions.salted_md5_minhash($"sh", numHashes)
        .as("fast"), sqlChain($"sh").as("ref"))
      .filter(not($"fast" <=> $"ref")).count()
    assert(mismatches === 0L)
    // adversarial literals: unicode, embedded colon/salt collisions,
    // empty string, null element (concat_ws skips it), empty array
    val tricky = Seq(
      Seq("a", "b", "c"), Seq(""), Seq("0:x", ":", "::"),
      Seq("héllo wörld", "日本語 シングル", "emoji 🚀 test"),
      Seq("1:same", "same")).toDF("sh")
      .select(graft.functions.salted_md5_minhash($"sh", numHashes)
        .as("fast"), sqlChain($"sh").as("ref"))
    assert(tricky.filter(not($"fast" <=> $"ref")).count() === 0L)
    val withNullElem = spark.sql(
      "SELECT array('x', CAST(NULL AS STRING), 'y') AS sh")
      .select(graft.functions.salted_md5_minhash($"sh", numHashes)
        .as("fast"), sqlChain($"sh").as("ref"))
    assert(withNullElem.filter(not($"fast" <=> $"ref")).count() === 0L)
    val emptyArr = spark.sql("SELECT CAST(array() AS ARRAY<STRING>) AS sh")
      .select(graft.functions.salted_md5_minhash($"sh", numHashes)
        .as("fast"), sqlChain($"sh").as("ref"))
    assert(emptyArr.filter(not($"fast" <=> $"ref")).count() === 0L)
  }

  test("gram_md5 ≡ the transform/slice/md5-hex chain (digests unhex-equal)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val n = 8
    def sqlChain(toks: org.apache.spark.sql.Column) =
      transform(sequence(lit(0), size(toks) - n),
        i => unhex(md5(concat_ws(" ", slice(toks, i + 1, lit(n)))
          .cast("binary"))))
    // real corpus: every document with >= n tokens
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .withColumn("toks", split($"text", " "))
      .filter(size($"toks") >= n)
    val mism = docs
      .select(graft.functions.gram_md5($"toks", n).as("fast"),
        sqlChain($"toks").as("ref"))
      .filter(not($"fast" <=> $"ref")).count()
    assert(mism === 0L)
    // edges: exactly n tokens, null element (concat_ws skips it),
    // empty tokens, unicode, fewer than n tokens (empty result)
    val tricky = spark.sql(
      """SELECT * FROM VALUES
        |  (array('a','b','c','d','e','f','g','h')),
        |  (array('a','b','c','d','e','f','g','h','i','j')),
        |  (array('a', CAST(NULL AS STRING),'c','d','e','f','g','h','i')),
        |  (array('','','','','','','','','')),
        |  (array('héllo','wörld','日本','語','🚀','x','y','z','w'))
        |AS t(toks)""".stripMargin)
      .select(graft.functions.gram_md5($"toks", n).as("fast"),
        sqlChain($"toks").as("ref"))
    assert(tricky.filter(not($"fast" <=> $"ref")).count() === 0L)
    val short = spark.sql("SELECT array('a','b') AS toks")
      .select(graft.functions.gram_md5($"toks", n).as("fast")).head()
    assert(short.getSeq[Array[Byte]](0).isEmpty)
  }

  test("byte_log_units ≡ per-byte floor(c·ln c·1e9+.5) sum via codegen") {
    import spark.implicits._
    def ref(bytes: Array[Byte]): Long =
      bytes.groupBy(b => b & 0xff).values
        .map(g => math.floor(g.length.toDouble *
          math.log(g.length.toDouble) * 1e9 + 0.5).toLong)
        .sum
    val payloads = Seq("aaaa", "abab", "abcd", "", "x",
      new String(Array.tabulate(300)(i => (i % 7 + 'a').toChar)))
      .map(_.getBytes("UTF-8"))
    val got = payloads.toDF("b")
      .select(graft.functions.byte_log_units($"b")).as[Long].collect()
    assert(got.toSeq === payloads.map(ref))
    // full byte range incl. negative JVM bytes (0x80-0xff)
    val bin = Array.tabulate[Byte](512)(i => (i % 256).toByte)
    val one = Seq(bin).toDF("b")
      .select(graft.functions.byte_log_units($"b")).as[Long].collect()
    assert(one(0) === ref(bin))
    val nulls = Seq[Option[Array[Byte]]](Some("zz".getBytes), None)
      .toDF("b").select(graft.functions.byte_log_units($"b")).collect()
    assert(nulls(0).getLong(0) === ref("zz".getBytes) &&
      nulls(1).isNullAt(0))
  }
}
