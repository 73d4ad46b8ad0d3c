package graft

import org.apache.spark.sql.functions._
import graft.er.ER

class ERSpec extends SparkSpec {

  test("every er query runs, has rows, and a matching oracle") {
    ER.queries.foreach { case (name, fn) =>
      val df = fn(spark, sf)
      assert(df.count() > 0, s"$name returned no rows")
      assert(ER.oracles.contains(name), s"$name missing oracle SQL")
    }
  }

  test("connected components agree with an in-test union-find") {
    val edges = ER.erFuzzyMatch(spark, sf).select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val ids = spark.read.parquet(s"$sf/part.parquet").select("p_partkey")
      .collect().map(_.getLong(0))
    val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
    def find(x: Long): Long = { var r = x; while (parent(r) != r) r = parent(r); r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = ids.map(i => i -> find(i)).toMap
    // path-compress fully
    val expected2 = expected.map { case (k, _) => k -> find(k) }
    val got = ER.erConnectedComponents(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected2)
  }

  test("fuzzy match includes all exact dup pairs") {
    val exact = ER.erExactDups(spark, sf).count()
    val zeroDist = ER.erFuzzyMatch(spark, sf).filter(col("dist") === 0).count()
    assert(exact == 0 || zeroDist > 0)
  }

  test("linking picks the mention's own noun when present (score 0 impossible beats)") {
    val linked = ER.erLinking(spark, sf)
    // every part links to exactly one concept
    assert(linked.groupBy("id").count().filter(col("count") =!= 1).count() == 0)
  }

  test("er_fs_score: likelihood ratio is the exact arm product; match iff >= 2 agreements") {
    val rows = ER.erFsScore(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (na, ba, ta) = (r.getBoolean(2), r.getBoolean(3), r.getBoolean(4))
      val (num, den, m) = (r.getLong(5), r.getLong(6), r.getBoolean(7))
      val expNum = (if (na) 18L else 2L) * (if (ba) 20L else 5L) * (if (ta) 15L else 5L)
      val expDen = (if (na) 1L else 19L) * (if (ba) 1L else 24L) * (if (ta) 2L else 18L)
      assert(num == expNum && den == expDen, s"arm product wrong for ($na,$ba,$ta)")
      assert(m == (num > 10L * den))
      // with these weights, the threshold is exactly the 2-agreement line
      val agreements = Seq(na, ba, ta).count(identity)
      assert(m == (agreements >= 2),
        s"classification diverged from the 2-agreement line at ($na,$ba,$ta)")
    }
    assert(rows.exists(_.getBoolean(7)) && rows.exists(!_.getBoolean(7)),
      "score never crosses the threshold — weights degenerate")
  }

  test("er_incremental resolves the batch against the registry exactly") {
    val parts = spark.read.parquet(s"$sf/part.parquet")
      .selectExpr("p_partkey AS id",
        "trim(regexp_replace(regexp_replace(lower(trim(p_name)), '[^a-z0-9 ]', ''), ' +', ' ')) AS norm")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val reg = parts.filter(_._1 % 5 != 0).groupBy(_._2).view
      .mapValues(_.map(_._1).min).toMap
    val batch = parts.filter(_._1 % 5 == 0)
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0 }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val got = graft.er.ER.erIncremental(spark, sf).collect()
      .map(r => r.getAs[Long]("id") -> r).toMap
    assert(got.size == batch.length)
    batch.foreach { case (id, norm) =>
      val r = got(id)
      assert(Option(r.getAs[Any]("exact_dup_of")).map(_.asInstanceOf[Long]) == reg.get(norm))
      val fuzzyBest = reg.toSeq
        .filter { case (n2, _) => n2 != norm &&
          n2.split(" ", -1).headOption == norm.split(" ", -1).headOption &&
          math.abs(n2.length - norm.length) <= 3 }
        .map { case (n2, cid) => (lev(norm, n2), cid) }
        .filter(_._1 <= 3).sorted.headOption
      assert(Option(r.getAs[Any]("near_dup_of")).map(_.asInstanceOf[Long]) ==
        fuzzyBest.map(_._2), s"id $id norm '$norm'")
      assert(r.getAs[Boolean]("is_new") == (reg.get(norm).isEmpty && fuzzyBest.isEmpty))
    }
    // the synthesis exercises all three outcomes
    assert(got.values.exists(r => r.getAs[Any]("exact_dup_of") != null))
    assert(got.values.exists(r => r.getAs[Any]("near_dup_of") != null))
    assert(got.values.exists(_.getAs[Boolean]("is_new")))
  }

  test("er_survivorship: one golden record per cluster, rules hold") {
    import graft.er.ER
    val gold = ER.erSurvivorship(spark, sf).collect()
    val comp = ER.erConnectedComponents(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val parts = spark.read.parquet(s"$sf/part.parquet")
      .select(col("p_partkey"), col("p_name"), col("p_brand")).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    assert(gold.length == comp.map(_._2).distinct.length, "one row per cluster")
    val byCluster = comp.groupBy(_._2)
    gold.foreach { r =>
      val members = byCluster(r.getLong(0)).map(_._1)
      assert(r.getLong(1) == members.min, "canonical = min member id")
      assert(r.getLong(2) == members.length, "n_members")
      // name rule: longest surface form, lexicographic tiebreak
      val names = members.map(parts(_)._1)
      assert(r.getString(3) == names.sortBy(n => (-n.length, n)).head, "name rule")
      // brand rule: mode with lexicographic tiebreak, support = its count
      val brandGroups = members.map(parts(_)._2).groupBy(identity)
      val (bBrand, bs) = brandGroups.map { case (b, xs) => (b, xs.size) }
        .toSeq.sortBy { case (b, n) => (-n, b) }.head
      assert(r.getString(4) == bBrand && r.getLong(5) == bs, "brand rule")
    }
  }

  test("fingerprint: sorted-token key unites reversed-order twins exact-dedup misses") {
    import org.apache.spark.sql.functions._
    val rows = graft.er.ER.erFingerprint(spark, sf).collect()
    assert(rows.nonEmpty)
    // every cluster spans both sources: the books name and its
    // "surname, forename"-style posters twin share a fingerprint even
    // though their normalized strings differ
    assert(rows.forall(_.getLong(2) == 2L), "every fingerprint must span both sources")
    // the key really is the sorted token set: rebuilding it from the
    // fingerprint text is a no-op
    rows.foreach { r =>
      val f = r.getString(0)
      val toks = f.split(" ")
      assert(toks.sorted.sameElements(toks) && toks.distinct.length == toks.length, f)
    }
    // cluster mass accounts for the whole pool (every id lands
    // somewhere), including the 8 injected umlaut probe rows
    val nParts = graft.sources.Tables.part(spark, sf).count()
    assert(rows.map(_.getLong(1)).sum == 2 * nParts + graft.er.ER.UmlautRows.size,
      "books + posters + umlaut-probe ids must all fall into some collision cluster")
  }

  test("fingerprint/ngram_merge: probeRows = false yields purely dataset-derived output") {
    // the opt-out documented in the UmlautRows contract note: no
    // fixture ids (9000001–9000008) anywhere in the result
    val fp = graft.er.ER.erFingerprint(spark, sf, probeRows = false).collect()
    assert(fp.nonEmpty)
    assert(fp.forall(_.getLong(3) < 9000000L), "no probe canonical ids")
    val nParts = graft.sources.Tables.part(spark, sf).count()
    assert(fp.map(_.getLong(1)).sum == 2 * nParts, "mass = books + posters only")
    val nm = graft.er.ER.erNgramMerge(spark, sf, probeRows = false).collect()
    assert(nm.nonEmpty)
    val idIdx = nm.head.schema.fieldNames.indexOf("id")
    assert(idIdx >= 0 && nm.forall(_.getLong(idIdx) < 9000000L), "no probe member ids")
  }

  test("translit: de-ASCII digraphs + Latin-ASCII fold, reference-faithful") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // the reference's own examples: open-refine-fingerprint.R's
    // "gödel", book-authors-viaf.R's "change Ö to OE instead of O"
    val got = Seq("Kurt Gödel", "MÜLLER, Heiner", "Günter Straße", "Société Æon Œuvre", "ASCII stays 1-1")
      .toDF("s").select(graft.er.ER.norm(col("s")).as("n")).as[String].collect()
    assert(got(0) == "kurt goedel")
    assert(got(1) == "mueller heiner")
    assert(got(2) == "guenter strasse")
    assert(got(3) == "societe aeon oeuvre")
    assert(got(4) == "ascii stays 11") // punctuation/space rules unchanged
  }

  test("fingerprint: umlaut and digraph spellings of the same person cluster together") {
    val rows = graft.er.ER.erFingerprint(spark, sf).collect()
    // "Kurt Gödel" (books) and "Goedel, Kurt" (posters) must land in
    // one cluster keyed by the transliterated sorted-token fingerprint
    val goedel = rows.find(_.getString(0) == "goedel kurt")
    assert(goedel.isDefined, "Gödel/Goedel must collide after de-ASCII")
    assert(goedel.get.getLong(1) == 2L && goedel.get.getLong(2) == 2L)
    val mueller = rows.find(_.getString(0) == "heiner mueller")
    assert(mueller.isDefined, "Müller/Mueller must collide after de-ASCII")
    assert(mueller.get.getLong(3) == 9000003L, "canonical = min id of the pair")
  }

  test("isbn: mod-11 verdicts match ground truth; normalized ISBN-13s re-validate") {
    val rows = graft.er.ER.erIsbn(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val id = r.getLong(0); val raw = r.getString(1); val valid = r.getBoolean(2)
      // ground truth: the synthesizer corrupts every 7th check digit,
      // and +1 mod 11 can never equal the true check
      assert(valid == (id % 7 != 0), s"id $id raw $raw")
      // independent re-validation of both checksums
      val ds = raw.take(9).map(_.asDigit)
      val c = ds.zipWithIndex.map { case (d, i) => (i + 1) * d }.sum % 11
      val rawC = if (raw.last == 'X') 10 else raw.last.asDigit
      assert((c == rawC) == valid)
      if (valid) {
        val i13 = r.getString(3)
        assert(i13.length == 13 && i13.startsWith("978" + raw.take(9)))
        val e = i13.map(_.asDigit)
        assert(e.zipWithIndex.map { case (d, i) => d * (if (i % 2 == 1) 3 else 1) }.sum % 10 == 0,
          s"EAN checksum fails for $i13")
      } else assert(r.isNullAt(3))
    }
  }

  test("linkCascade: strategy priority beats score — an entity matched early never reappears") {
    import spark.implicits._
    val entities = Seq(1L, 2L, 3L).toDF("id")
    // strategy A matches entity 1 at score 5; strategy B would match
    // entity 1 at the BETTER score 0, plus entity 2 at score 3
    val out = ER.linkCascade(entities, Seq(
      "a" -> { rem => rem.join(Seq((1L, 100L, 5)).toDF("id", "auth_id", "score"), Seq("id")) },
      "b" -> { rem => rem.join(
        Seq((1L, 200L, 0), (2L, 300L, 3)).toDF("id", "auth_id", "score"), Seq("id")) }
    )).collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getLong(3), r.getInt(4)))
    assert(out.toSet == Set((1L, "a", 1, 100L, 5), (2L, "b", 2, 300L, 3)),
      s"cascade must keep entity 1 under strategy a despite b's better score; got ${out.toSet}")
  }

  test("linkCascade: within a strategy the best (score, auth_id) candidate wins") {
    import spark.implicits._
    val entities = Seq(1L).toDF("id")
    val out = ER.linkCascade(entities, Seq(
      "a" -> { rem => rem.join(
        Seq((1L, 100L, 2), (1L, 50L, 1), (1L, 60L, 1)).toDF("id", "auth_id", "score"), Seq("id")) }
    )).collect()
    assert(out.length == 1 && out(0).getLong(3) == 50L && out(0).getInt(4) == 1)
  }

  test("er_link_cascade: one row per book, disjoint strategies, isbn wins for its section") {
    val out = ER.erLinkCascade(spark, sf)
    val n = spark.read.parquet(s"$sf/part.parquet").count()
    assert(out.count() == n, "exactly one row per book")
    assert(out.groupBy("id").count().filter(col("count") =!= 1).count() == 0)
    // a valid-ISBN book in authority section 0 must be matched by the
    // isbn strategy and nothing else
    val isbnIds = out.filter(col("strategy") === "isbn").select("id")
      .collect().map(_.getLong(0)).toSet
    val expected = spark.read.parquet(s"$sf/part.parquet").select("p_partkey")
      .collect().map(_.getLong(0)).filter(i => i % 4 == 0 && i % 7 != 0).toSet
    assert(isbnIds == expected,
      s"isbn strategy should capture exactly the valid section-0 books")
    // the cascade exercises more than one strategy on real data
    val strategies = out.select("strategy").distinct().collect().map(_.getString(0)).toSet
    assert(strategies.size >= 3, s"expected >=3 strategies to fire, got $strategies")
  }

  test("er_viaf_link: max-score ties kept, single names dropped, triple unique") {
    val rows = graft.er.ER.erViafLink(spark, sf).collect()
    assert(rows.nonEmpty)
    // the import's uniqueness contract (book-authors-viaf.R's
    // expect_unique on author_id/viaf_id/gnd_id)
    val triples = rows.map(r => (r.getLong(0), r.getString(2), r.getString(3)))
    assert(triples.distinct.length == triples.length, "triple must be unique")
    // single-token author names never survive the cleanup
    assert(rows.forall(_.getString(1).contains(" ")), "single names must drop")
    // keep-ALL-at-max semantics: every author's surviving scores equal
    // their max (ties produce >1 row, unlike a top-1 window)
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val scores = rs.map(_.getInt(4)).toSet
      assert(scores.size == 1, s"all surviving rows must share the max score: $rs")
    }
    // and ties really occur somewhere (the keep is not top-1 in disguise)
    assert(rows.groupBy(_.getLong(0)).exists(_._2.length > 1),
      "expected at least one max-score tie in the pool")
  }

  test("er_link_report: per-strategy accounting sums to the book universe") {
    val rep = ER.erLinkReport(spark, sf).collect()
    val n = spark.read.parquet(s"$sf/part.parquet").count()
    assert(rep.map(_.getAs[Long]("n_entities")).sum == n,
      "every book lands in exactly one strategy row (incl. unmatched)")
    val names = rep.map(_.getAs[String]("strategy")).toSet
    assert(names.subsetOf(Set("isbn", "author_title", "author", "publisher", "unmatched")))
    rep.filter(r => r.getAs[String]("strategy") == "isbn").foreach { r =>
      val expected = spark.read.parquet(s"$sf/part.parquet").select("p_partkey")
        .collect().map(_.getLong(0)).count(i => i % 4 == 0 && i % 7 != 0)
      assert(r.getAs[Long]("n_entities") == expected)
      assert(r.getAs[Long]("sum_score") == 0L, "isbn is an exact-id strategy")
    }
  }

  test("capBlocks: small kept, oversized refined by 2nd token, pathological dropped + audited") {
    import spark.implicits._
    val blocked = Seq(
      // block "a" (size 2 <= cap): kept untouched
      (1L, "a x", "a"), (2L, "a y", "a"),
      // block "b" (size 4 > cap): refined by the second norm token into
      // four singleton blocks b|p1..b|p4 — all kept
      (10L, "b p1 t", "b"), (11L, "b p2 t", "b"), (12L, "b p3 t", "b"), (13L, "b p4 t", "b"),
      // block "c" (size 4 > cap): every row shares the second token, so
      // refinement can't split it — c|z stays oversized and is DROPPED
      (20L, "c z t1", "c"), (21L, "c z t2", "c"), (22L, "c z t3", "c"), (23L, "c z t4", "c")
    ).toDF("id", "norm", "blk")
    val cap = 3L
    val out = ER.capBlocks(blocked, cap).collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("blk"))).toSet
    assert(out == Set((1L, "a"), (2L, "a"),
      (10L, "b|p1"), (11L, "b|p2"), (12L, "b|p3"), (13L, "b|p4")),
      s"got $out")
    val audit = ER.oversizedBlocks(blocked, cap).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(audit == Set(("c|z", 4L)), s"dropped blocks must be surfaced; got $audit")
  }

  test("er_ngram_merge: pass 1 merges reversed twins, pass 2 merges the typo twins pass 1 misses") {
    val rows = ER.erNgramMerge(spark, sf).collect()
    val byId = rows.map(r => r.getAs[Long]("id") ->
      (r.getAs[String]("src"), r.getAs[String]("label"),
        r.getAs[String]("key_coll"), r.getAs[String]("ngram"))).toMap
    // reversed twins: a book and its poster twin (id + 1e6) collide on
    // the token fingerprint, so pass 1 already rewrites them to ONE value
    val books = rows.filter(_.getAs[String]("src") == "books")
    assert(books.nonEmpty)
    books.foreach { b =>
      val id = b.getAs[Long]("id")
      byId.get(id + 1000000L).foreach { case (_, _, posterKc, _) =>
        assert(b.getAs[String]("key_coll") == posterKc,
          s"book $id and its reversed poster twin must key-collide to the same value")
      }
    }
    // typo twins: the doubled-letter source rows do NOT key-collide with
    // their clean twin (token fingerprints differ)...
    val typos = rows.filter(_.getAs[String]("src") == "typos")
    assert(typos.nonEmpty)
    typos.foreach { t =>
      val clean = byId(t.getAs[Long]("id") - 2000000L)
      assert(t.getAs[String]("key_coll") != clean._3,
        "a doubled letter must defeat the token-fingerprint pass")
    }
    // ...but pass 2 (character n-gram star-merge) lands them on the
    // clean twin's merged value — except where the block canonical is a
    // third same-character-set value farther than the bigram threshold
    // (star-merge compares to the canonical only, by design)
    val merged = typos.count(t => byId(t.getAs[Long]("id") - 2000000L)._4 == t.getAs[String]("ngram"))
    assert(merged > typos.length / 2,
      s"pass 2 must merge most typo rows onto their clean twin's value ($merged/${typos.length})")
    // and pass 2 changes SOMETHING pass 1 left alone
    assert(rows.exists(r => r.getAs[String]("ngram") != r.getAs[String]("key_coll")))
  }

  test("disambiguate lastname check is str_detect regex semantics, not literal contains") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // each row pins a direction where regex and literal substring
    // DIVERGE (plus one where they agree), so a regression to either
    // semantics fails loudly:
    //  1. pattern metachar dot bridges a different char: regex passes,
    //     contains would not
    //  2. group parens are regex syntax, stripped from the match:
    //     contains would pass (verbatim substring), regex must NOT
    //  3. plain surname: both semantics agree
    //  4. empty lastname short-circuits to not_passed (Rmd NA case)
    //  5. non-person is not_relevant regardless
    val rows = Seq(
      (true, "Karl MXller", "M.ller"),
      (true, "Jaq O'Brien (Hrsg.)", "O'Brien (Hrsg.)"),
      (true, "Heiner Mueller", "Mueller"),
      (true, "Anyone", ""),
      (false, "Acme Verlag", "Verlag")
    ).toDF("is_person", "name", "lastname")
      .select(graft.er.ER.lastnameCheck(col("is_person"), col("name"), col("lastname")).as("c"))
      .as[String].collect()
    assert(rows.sameElements(Array("passed", "not_passed", "passed", "not_passed", "not_relevant")))
  }

  test("er_disambiguate: keep filters honored, verdict matches the count, no not_passed survives") {
    val rows = ER.erDisambiguate(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val v = r.getAs[String]("verdict")
      val n = r.getAs[Long]("n_candidates")
      assert(v == (if (n == 1) "one_match" else "more_matches"))
      assert(r.getAs[String]("lastname_check") != "not_passed")
      val srcSum = Seq("n_via_isbn", "n_via_author_name", "n_via_author_book",
        "n_via_publisher").map(r.getAs[Long]).sum
      assert(srcSum >= n, "per-source counts cover every distinct candidate")
      val (num, den) = (r.getAs[Int]("sim_num"), r.getAs[Int]("sim_den"))
      assert(r.getAs[Double]("similarity") == num.toDouble / den)
      assert(r.getAs[Boolean]("confident") == (num.toDouble / den >= 0.85))
    }
    // kept rows are at their entity's min hierarchy and max similarity
    rows.groupBy(_.getAs[Long]("id")).foreach { case (_, rs) =>
      assert(rs.map(_.getAs[Int]("hierarchy")).distinct.length == 1,
        "all kept rows of one entity share the (min) hierarchy")
      assert(rs.map(_.getAs[Double]("similarity")).distinct.length == 1,
        "all kept rows of one entity share the (max) similarity")
    }
    assert(rows.map(_.getAs[String]("verdict")).toSet == Set("one_match", "more_matches"))
  }

  test("er_confirmed_merges: rejected edges break clusters, confirmed edges join them") {
    import org.apache.spark.sql.functions.col
    val machine = ER.erFuzzyMatch(spark, sf).select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val ids = spark.read.parquet(s"$sf/part.parquet").select("p_partkey")
      .collect().map(_.getLong(0))
    val idSet = ids.toSet
    val confirmed = ids.filter(i => i % 17 == 0 && idSet.contains(i + 1)).map(i => (i, i + 1))
    val edited = machine.filter { case (a, b) => (a + b) % 13 != 0 } ++ confirmed
    // ground truth union-find over the EDITED edge set
    val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
    def find(x: Long): Long = { var r = x; while (parent(r) != r) r = parent(r); r }
    edited.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = ids.map(i => i -> find(i)).toMap.map { case (k, _) => k -> find(k) }
    val got = ER.erConfirmedMerges(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
    // the human edit must actually change something vs the machine graph
    val machineComps = ER.erConnectedComponents(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got != machineComps, "edited components must differ from the machine-only components")
    confirmed.foreach { case (a, b) =>
      assert(got(a) == got(b), s"confirmed pair ($a,$b) must share a component")
    }
  }
}
