package graft

/** Native expressions exposed to SQL via GraftExtensions. */
class ExtensionsSpec extends GraftSpec {

  test("native functions callable from SQL after registration") {
    GraftExtensions.registerAll(spark)
    val row = spark.sql(
      """SELECT reencode('cafÃ©') AS r,
                simhash16('a b c') AS s,
                dot_f32(array(CAST(1.5 AS FLOAT), CAST(2 AS FLOAT)),
                        array(CAST(3 AS FLOAT), CAST(0.5 AS FLOAT))) AS d
      """).head()
    assert(row.getAs[String]("r") === "café")
    val sh = row.getAs[String]("s")
    assert(sh.length === 16 && sh.forall(c => c == '0' || c == '1'))
    assert(row.getAs[Double]("d") === 5.5)
  }

  test("every registered extension function resolves and answers from SQL") {
    GraftExtensions.registerAll(spark)
    GraftExtensions.functions.foreach { case (id, _, _) =>
      assert(spark.sessionState.functionRegistry.functionExists(id),
        s"${id.funcName} registered but not resolvable")
    }
    // spot-answers through the SQL path for the round-6 additions
    val dims = spark.sql(
      """SELECT media_dims(unhex(
           '89504E470D0A1A0A0000000D49484452000000050000000700')).format AS f
      """).head().getString(0)
    assert(dims === "png")
    val z = spark.sql("SELECT zorder_key(3, 5) AS z").head().getLong(0)
    assert(z === graft.functions.ZOrderKey.morton(3L, 5L))
    // r10 ADC machinery: dense-code table sum, flat-PQ score, quantizer
    // assignment — each answering through the SQL path with literal args
    val ts = spark.sql(
      """SELECT pq_table_sum(array(1L, 0L),
           array(array(1.0D, 2.0D), array(3.0D, 4.0D))) AS v
      """).head().getDouble(0)
    assert(ts === 5.0) // table[0][1] + table[1][0]
    val nan = spark.sql(
      """SELECT pq_table_sum(array(7L),
           array(array(1.0D))) AS v""").head().getDouble(0)
    assert(nan.isNaN, "out-of-range code must be a loud NaN")
    val adc = spark.sql(
      """SELECT pq_adc_score(array(0L), array(array(3.0D)),
           array(array(4.0D))) AS v""").head().getDouble(0)
    assert(adc === 3.0 / math.sqrt(4.0))
    val am = spark.sql(
      """SELECT argmax_dot(array(CAST(1 AS FLOAT), CAST(0 AS FLOAT)),
           array(struct(10L AS cid, array(0.0D, 1.0D) AS cent),
                 struct(20L AS cid, array(1.0D, 0.0D) AS cent)),
           false, false) AS v""").head().getLong(0)
    assert(am === 20L)
    val amIdx = spark.sql(
      """SELECT argmax_dot(array(CAST(1 AS FLOAT), CAST(0 AS FLOAT)),
           array(struct(10L AS cid, array(0.0D, 1.0D) AS cent),
                 struct(20L AS cid, array(1.0D, 0.0D) AS cent)),
           false, true) AS v""").head().getLong(0)
    assert(amIdx === 1L, "return_index picks the array position")
  }

  test("wrong arity fails analysis with WRONG_NUM_ARGS, not an index error") {
    GraftExtensions.registerAll(spark)
    val cases = Seq(
      "SELECT zorder_key(3)",        // too few (was IndexOutOfBounds)
      "SELECT zorder_key(1, 2, 3)",  // too many
      "SELECT reencode('a', 'b')",   // single-arg fn silently ignored extras
      "SELECT dot_f32(array(CAST(1 AS FLOAT)))")
    cases.foreach { sql =>
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        spark.sql(sql).collect()
      }
      assert(e.getCondition === "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        s"$sql: expected WRONG_NUM_ARGS, got ${e.getCondition}")
    }
    // declared arities stay in lockstep with the registry
    assert(GraftExtensions.functions.map(_._1.funcName).toSet ===
      Set("reencode", "simhash16", "dot_f32", "dot_fd", "minhash_band_sigs",
        "inet_sort_key", "parse_str_array", "simhash64", "media_dims",
        "ppm_features", "ppm_dhash", "png_features", "gif_features", "gif_anim_features",
        "gif_frame_stats", "wav_features", "wav_dhash", "mpeg_features", "mp4_features", "mp4_sample_tables", "mp4_fragment_tables", "mpegts_tables", "jpeg_features", "jpeg_dhash", "zorder_key",
        "mpeg_l1_samples", "flac_features", "flac_dhash", "bmp_features",
        "hyperplane_bucket", "pq_table_sum", "pq_adc_score", "argmax_dot",
        "url_canonicalize", "bpe_apply"))
  }

  test("mp4_sample_tables and url_canonicalize answer from SQL like their " +
      "native entry points") {
    import org.apache.spark.sql.Row
    GraftExtensions.registerAll(spark)
    // url_canonicalize: the SQL surface hits the same static canon()
    val u = spark.sql(
      "SELECT url_canonicalize('HTTP://A.com:80/x/./y?z=1&a=2#f') AS u, " +
        "url_canonicalize('not a url') AS bad").head()
    assert(u.getString(0) === "http://a.com/x/y?a=2&z=1")
    assert(u.isNullAt(1), "unparseable input must be SQL NULL")
    // mp4_sample_tables: a non-BMFF payload refuses to 'unknown' with null
    // tracks through the SQL surface (the struct schema is the contract)
    val m = spark.sql(
      "SELECT mp4_sample_tables(CAST('junk' AS BINARY)) AS f").head()
      .getAs[Row]("f")
    assert(m.getAs[String]("format") === "unknown")
    assert(m.isNullAt(m.fieldIndex("tracks")))
    // mp4_fragment_tables: same refusal contract through the SQL surface
    val fr = spark.sql(
      "SELECT mp4_fragment_tables(CAST('junk' AS BINARY)) AS f").head()
      .getAs[Row]("f")
    assert(fr.getAs[String]("format") === "unknown")
    assert(fr.isNullAt(fr.fieldIndex("tracks")))
  }

  test("bpe_apply answers from SQL under a persisted model root, " +
      "identically to the native entry point; non-literal root refuses") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    GraftExtensions.registerAll(spark)
    val root = tempDir("graft_bpe_sql").resolve("root").toString
    val dict = Seq(("abab", 10L), ("abc", 5L), ("bc", 3L))
      .toDF("w", "freq")
    graft.ops.Bpe.buildBpeModelRoot(spark, dict, numMerges = 3, root)
    val (_, merges) = graft.ops.Bpe.loadBpeModel(spark, root)
    val words = Seq("abab", "abc", "bc", "xyz").toDF("w")
    words.createOrReplaceTempView("bpe_sql_words")
    val viaSql = spark.sql(
      s"SELECT w, bpe_apply(w, '$root') AS toks FROM bpe_sql_words")
      .orderBy(col("w")).collect()
      .map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    val viaNative = words
      .select(col("w"), graft.ops.Bpe.tokens(col("w"), merges).as("toks"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(viaSql === viaNative)
    assert(viaSql("abab").mkString("") === "abab", "tokens must respell the word")
    // the model resolves at plan time — a per-row (non-foldable) root
    // column cannot name a model and must refuse at analysis
    val bad = intercept[Throwable] {
      spark.sql("SELECT bpe_apply(w, w) FROM bpe_sql_words").collect()
    }
    assert(bad.getMessage.contains("literal"),
      s"expected the literal-path refusal, got: ${bad.getMessage.take(200)}")
  }

  test("dot_fd is bitwise-equal to the HOF fold in every float/double combination") {
    // r10: the quantizer machinery's scoring folds moved from interpreted
    // aggregate(zip_with(...)) lambdas to the native dot_fd loop; the
    // oracle contract is BITWISE double equality, so this pins all four
    // element-type combinations against the HOF formulation on values
    // whose addition order matters (mixed magnitudes, signs)
    import org.apache.spark.sql.functions._
    import spark.implicits._
    GraftExtensions.registerAll(spark)
    val fa = Array.tabulate(64)(i => (math.sin(i * 0.7) * 3 + i * 1e-4).toFloat)
    val da = Array.tabulate(64)(i => math.cos(i * 1.3) / 7 + i * 1e9 * ((i % 3) - 1))
    val df = Seq((fa, da)).toDF("f", "d")
    def hof(a: String, b: String) = expr(
      s"""aggregate(zip_with($a, $b,
            (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
          CAST(0 AS DOUBLE), (acc, v) -> acc + v)""")
    val r = df.select(
      graft.functions.DotProductFD($"f", $"d").as("fd"), hof("f", "d").as("hfd"),
      graft.functions.DotProductFD($"d", $"f").as("df"), hof("d", "f").as("hdf"),
      graft.functions.DotProductFD($"d", $"d").as("dd"), hof("d", "d").as("hdd"),
      graft.functions.DotProductFD($"f", $"f").as("ff"), hof("f", "f").as("hff"),
      graft.functions.DotProductF32($"f", $"f").as("f32")).head()
    def bits(i: Int) = java.lang.Double.doubleToRawLongBits(r.getDouble(i))
    assert(bits(0) === bits(1), "float x double diverged")
    assert(bits(2) === bits(3), "double x float diverged")
    assert(bits(4) === bits(5), "double x double diverged")
    assert(bits(6) === bits(7), "float x float diverged")
    assert(bits(6) === bits(8), "dot_fd(f,f) must equal dot_f32(f,f)")
    // and through the SQL registration
    GraftExtensions.registerAll(spark)
    val s = spark.sql(
      """SELECT dot_fd(array(CAST(1.5 AS FLOAT), CAST(2 AS FLOAT)),
                       array(CAST(3 AS DOUBLE), CAST(0.5 AS DOUBLE)))""").head()
    assert(s.getDouble(0) === 5.5)
  }

  test("argmax_dot equals the groupBy(max_by) formulation, min-cid ties, halfNorm form") {
    // r10: quantizer assignment became a map-side argmax_dot projection;
    // this pins it against the former crossJoin+max_by(struct(score,-cid))
    // dataflow on a fixture containing an EXACT score tie (duplicate
    // centroid under two cids — the tie must resolve to the smaller cid,
    // as max(-cid) did), in both the plain-dot and halfNorm forms.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val vecs = (0L until 40L).map(v =>
      (v, Array.tabulate(8)(i => (math.sin(v * 0.9 + i) * 2).toFloat)))
      .toDF("vec_id", "embedding")
    // cids deliberately unsorted; cid 7 duplicates cid 2's centroid
    val cents = Seq(
      (7L, Array.tabulate(8)(i => math.cos(i * 0.7) / 3)),
      (2L, Array.tabulate(8)(i => math.cos(i * 0.7) / 3)),
      (5L, Array.tabulate(8)(i => math.sin(i * 1.1) / 2)),
      (1L, Array.tabulate(8)(i => i * 0.05 - 0.2)))
      .toDF("cid", "centroid")
    for (half <- Seq(false, true)) {
      val score =
        if (half) graft.functions.DotProductFD($"embedding", $"centroid") -
          graft.functions.DotProductFD($"centroid", $"centroid") / 2
        else graft.functions.DotProductFD($"embedding", $"centroid")
      val oldForm = vecs.crossJoin(broadcast(cents))
        .select($"vec_id", $"cid", score.as("score"))
        .groupBy($"vec_id")
        .agg(max_by($"cid", struct($"score", (-$"cid").as("nc"))).as("bucket"))
        .orderBy($"vec_id")
        .as[(Long, Long)].collect().toSeq
      val cands = cents.groupBy()
        .agg(expr("array_sort(collect_list(struct(cid, centroid)))").as("cands"))
      val newForm = vecs.crossJoin(broadcast(cands))
        .select($"vec_id",
          graft.functions.ArgmaxDot($"embedding", $"cands", half).as("bucket"))
        .orderBy($"vec_id")
        .as[(Long, Long)].collect().toSeq
      assert(newForm === oldForm, s"halfNorm=$half diverged")
      // the duplicate-centroid tie is actually exercised (some vector's
      // best IS the duplicated centroid) and resolves to cid 2, never 7
      assert(newForm.map(_._2).contains(2L),
        "fixture regression: no vector picked the duplicated centroid")
      assert(newForm.map(_._2).forall(_ != 7L),
        "ties between duplicate centroids must resolve to the smaller cid")
    }
    // empty candidate array: loud sentinel, not a silent join-away
    val empty = vecs.limit(1).select(graft.functions.ArgmaxDot($"embedding",
      expr("CAST(array() AS ARRAY<STRUCT<cid: BIGINT, centroid: ARRAY<DOUBLE>>>)"),
      false).as("b")).head().getLong(0)
    assert(empty === -1L)
  }

  test("native hyperplane_bucket equals the expression-string formulation") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    GraftExtensions.registerAll(spark)
    // deterministic pseudo-random float vectors, 64 dims, incl. exact zeros
    val vecs = (0 until 50).map { v =>
      (v.toLong, (1 to 64).map { j =>
        val h = (v * 131 + j * 17) % 23 - 11
        (h.toFloat / 4.0f)
      }.toArray)
    }.toDF("vec_id", "embedding")
    // the pre-r3 generated-SQL formulation, kept here as the spec oracle
    val planes = 4
    val terms = (0 until planes).map { i =>
      val proj = (1 to 64).map { j =>
        val c = ((i * 37 + j * 101 + i * j * 53) % 1009 % 17 - 8).toDouble / 8.0
        s"CAST(element_at(embedding, $j) AS DOUBLE) * CAST($c AS DOUBLE)"
      }.mkString("(", " + ", ")")
      s"(CASE WHEN $proj > CAST(0 AS DOUBLE) THEN ${1 << i} ELSE 0 END)"
    }
    val rows = vecs
      .withColumn("native",
        graft.functions.HyperplaneBucket(col("embedding"), planes, 64))
      .withColumn("via_sql", expr(terms.mkString(" + ")))
      .withColumn("via_fn", expr(s"hyperplane_bucket(embedding, $planes, 64)"))
      .select("vec_id", "native", "via_sql", "via_fn")
      .collect()
    rows.foreach { r =>
      assert(r.getInt(1) === r.getInt(2), s"vec ${r.getLong(0)}")
      assert(r.getInt(1) === r.getInt(3), s"vec ${r.getLong(0)}")
    }
    assert(rows.map(_.getInt(1)).distinct.length > 1) // buckets actually vary
    // ragged input: the DuckDB oracle mirror indexes e[k] out of range →
    // NULL → the projection sum NULL-propagates → every CASE yields 0 →
    // bucket 0. The native expression must agree (and must not read past the
    // array), so short vectors land in bucket 0, never a partial-sum bucket.
    val short = Seq((99L, Array(1.0f, -1.0f))).toDF("vec_id", "embedding")
      .select(graft.functions.HyperplaneBucket(col("embedding"), planes, 64))
      .collect()(0)
    assert(short.getInt(0) === 0)
    // optional 4th arg: the SQL surface exposes the banding offset (table
    // t of a banded index keys on offset t*planes)
    val offRows = vecs
      .withColumn("via_fn4", expr(s"hyperplane_bucket(embedding, $planes, 64, 8)"))
      .withColumn("native4",
        graft.functions.HyperplaneBucket(col("embedding"), planes, 64, 8))
      .select("via_fn4", "native4").collect()
    offRows.foreach(r => assert(r.getInt(0) === r.getInt(1)))
    assert(offRows.map(_.getInt(0)).toSeq !=
      rows.map(_.getInt(1)).toSeq, "offset 8 must draw different planes")
    // arity guard still rejects a missing dims argument
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT hyperplane_bucket(array(CAST(1.0 AS FLOAT)), 4)").collect()
    }
    assert(err.getCondition != null &&
      err.getCondition.startsWith("WRONG_NUM_ARGS"))
    // ... and the message names the full accepted arity set (3 or 4) —
    // answering a 5-arg call with "expected 3" misdirects a caller who
    // legitimately passed the optional offset (r14 advice)
    val err5 = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql(
        "SELECT hyperplane_bucket(array(CAST(1.0 AS FLOAT)), 4, 64, 0, 9)")
        .collect()
    }
    assert(err5.getMessage.contains("3 or 4"),
      s"expected the accepted arity set in: ${err5.getMessage}")
    // a negative offset would push the truncated-% residues outside the
    // exact-dyadic [-1, 1] family — silently degraded geometry; it must
    // fail at analysis time, from SQL and from the Scala API alike
    val errNeg = intercept[Exception] {
      spark.sql(
        "SELECT hyperplane_bucket(array(CAST(1.0 AS FLOAT)), 4, 64, -1)")
        .collect()
    }
    assert(errNeg.getMessage.contains("offset must be >= 0"),
      s"got: ${errNeg.getMessage}")
    val errNegApi = intercept[IllegalArgumentException] {
      graft.functions.HyperplaneBucket(col("embedding"), 4, 64, -17)
    }
    assert(errNegApi.getMessage.contains("offset must be >= 0"))
  }

  test("native parse_str_array equals the from_json formulation") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    GraftExtensions.registerAll(spark)
    val rows = Seq(
      """["-", "GET /index.html HTTP/1.1", "GET", "/index.html", "HTTP/1.1", "-", "Mozilla/5.0 (X11; Linux x86_64)"]""",
      """["a\"b", "back\\slash", "sol\/idus", "tab\tx", "nl\nx", "uAx", "hex\x21x"]""",
      """[]""",
      """  [ "spaced" , "list" ]  """,
      """["trailing"] junk""", // from_json ignores post-value garbage; so do we
      """[1, 2.5, true, null, 1e3, -4]""", // JSON scalars stringify like Jackson
      """[["a"],["b"], {"k":1}]""", // nested structures captured as raw text
      """["unterminated]""",
      """["bad escape \q"]""",
      """not an array""",
      """[a, b]""", // barewords: invalid JSON, both null
      """[[unbalanced}""",
      s"""["a${1.toChar}b"]""").toDF("raw")
    val out = rows
      .withColumn("native", graft.functions.ParseStrArray(col("raw")))
      // the pre-r3 formulation, kept as the spec oracle
      .withColumn("via_json",
        from_json(regexp_replace(col("raw"), "\\\\x([0-9a-fA-F]{2})", "\\\\u00$1"),
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.StringType)))
      .withColumn("via_sql", expr("parse_str_array(raw)"))
      .select("raw", "native", "via_json", "via_sql")
      .collect()
    out.foreach { r =>
      val native = r.getSeq[String](r.fieldIndex("native"))
      val json = r.getSeq[String](r.fieldIndex("via_json"))
      assert(native === json, s"input: ${r.getString(0)}")
      assert(native === r.getSeq[String](r.fieldIndex("via_sql")))
    }
    // well-formed fixtures parsed, malformed null
    assert(out(0).getSeq[String](out(0).fieldIndex("native")).length === 7)
    assert(out(1).getSeq[String](out(1).fieldIndex("native")) ===
      Seq("a\"b", "back\\slash", "sol/idus", "tab\tx", "nl\nx", "uAx", "hex!x"))
    assert(out(2).getSeq[String](out(2).fieldIndex("native")) === Seq())
    assert(out(3).getSeq[String](out(3).fieldIndex("native")) === Seq("spaced", "list"))
    assert(out(4).getSeq[String](out(4).fieldIndex("native")) === Seq("trailing"))
    // JSON scalars: ints verbatim, fraction/exponent via parsed double, null
    // element preserved (parity asserted against via_json above)
    assert(out(5).getSeq[String](out(5).fieldIndex("native")) ===
      Seq("1", "2.5", "true", null, "1000.0", "-4"))
    assert(out(6).getSeq[String](out(6).fieldIndex("native")) ===
      Seq("""["a"]""", """["b"]""", """{"k":1}"""))
    (7 until 13).foreach(i => assert(out(i).isNullAt(out(i).fieldIndex("native")),
      s"row $i should be null"))
  }

  test("parse_str_array matches from_json on randomized arrays and garbage (property)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    def jsonEscape(s: String): String = s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < 0x20 => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    val strGen = Gen.listOfN(12, Gen.frequency(
      8 -> Gen.alphaNumChar, 2 -> Gen.oneOf('"', '\\', '\t', '\n', ' ', 'é', '中'),
      1 -> Gen.oneOf('[', ']', ',', ':'))).map(_.mkString)
    val arrGen = Gen.chooseNum(0, 8).flatMap(n => Gen.listOfN(n, strGen))
      .map(xs => xs.map(s => "\"" + jsonEscape(s) + "\"").mkString("[", ", ", "]"))
    val junkGen = Gen.listOfN(16, Gen.asciiPrintableChar).map(_.mkString)
    val inputs = (1 to 120).flatMap { i =>
      val gen = if (i % 3 == 0) junkGen else arrGen
      gen.apply(Gen.Parameters.default, Seed(i.toLong))
    }
    val out = inputs.toDF("raw")
      .withColumn("native", graft.functions.ParseStrArray(col("raw")))
      .withColumn("via_json",
        from_json(regexp_replace(col("raw"), "\\\\x([0-9a-fA-F]{2})", "\\\\u00$1"),
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.StringType)))
      .collect()
    out.foreach { r =>
      val native =
        if (r.isNullAt(1)) null else r.getSeq[String](1)
      val json =
        if (r.isNullAt(2)) null else r.getSeq[String](2)
      assert(native === json, s"input: <${r.getString(0)}>")
    }
    // the generator actually produced parsed arrays, not only nulls
    assert(out.count(!_.isNullAt(1)) > 40)
  }

  test("misuse fails at analysis time, not with wrong results at runtime") {
    GraftExtensions.registerAll(spark)
    // hyperplane_bucket over array<double> used to silently read wrong
    // buckets (getFloat over 8-byte slots); with ExpectsInputTypes every
    // type mismatch is an AnalysisException before any task runs
    val bad = Seq(
      "SELECT hyperplane_bucket(array(CAST(1.0 AS DOUBLE)), 4, 1)",
      "SELECT inet_sort_key(42)",
      "SELECT parse_str_array(array('a'))",
      "SELECT simhash16(123)",
      "SELECT dot_f32(array(CAST(1.0 AS DOUBLE)), array(CAST(1.0 AS DOUBLE)))",
      "SELECT minhash_band_sigs(array(1, 2), 8, 4)",
      "SELECT simhash64(array('a'))",
      "SELECT media_dims(array(1, 2))",
      "SELECT ppm_features(array(1, 2))")
    bad.foreach { sql =>
      val e = intercept[org.apache.spark.sql.AnalysisException](spark.sql(sql))
      assert(e.getMessage.toLowerCase.contains("type"), s"$sql: ${e.getMessage}")
    }
    // sane implicit casts still work (string is castable where expected)
    assert(spark.sql("SELECT inet_sort_key('10.0.0.1') IS NOT NULL AS ok")
      .head().getBoolean(0))
  }

  test("parse_str_array normalizes -0 like Jackson's integer path") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val out = Seq("""[-0, 0, -0.0]""").toDF("raw")
      .select(graft.functions.ParseStrArray(col("raw")).as("a"))
      .head()
    assert(out.getSeq[String](0) === Seq("0", "0", "-0.0"))
  }

  test("SQL simhash16 equals the Dedup pipeline value") {
    import spark.implicits._
    GraftExtensions.registerAll(spark)
    val viaSql = spark.sql("SELECT simhash16('hello world spark') AS s")
      .head().getString(0)
    val viaOp = graft.ops.Dedup.simhash(
      Seq((1L, "hello world spark")).toDF("doc_id", "text"))
      .head().getAs[String]("simhash")
    assert(viaSql === viaOp)
  }
}
