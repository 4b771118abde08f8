package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.queries.TextQueries

/** Ground truth for the hash-defined text-dedup paths (the driver's
  * oracle can only row-count them) plus language ID. Every assertion
  * here is against an exact, independently computed baseline — see
  * tools/MeasureGT for the measured values behind the floors. */
class TextQueriesSpec extends SparkSpec {

  private val sf01 = "/root/testdata/sf0.01"

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select(col("a_id"), col("b_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("dedupSimhash equals brute-force all-pairs hamming <= 6 (pigeonhole is exact)") {
    val sig = TextQueries.simhashSignatures(spark, sf01)
    val a = sig.select(col("doc_id").as("a_id"), col("simhash").as("a_sig"))
    val b = sig.select(col("doc_id").as("b_id"), col("simhash").as("b_sig"))
    val brute = pairSet(a.join(b, col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        bit_count(col("a_sig").bitwiseXOR(col("b_sig"))).as("hamming"))
      .filter(col("hamming") <= 6))
    val bucketed = pairSet(TextQueries.dedupSimhash(spark, sf01))
    assert(brute.nonEmpty)
    assert(bucketed == brute,
      s"missed=${(brute -- bucketed).size} extra=${(bucketed -- brute).size}")
  }

  test("dedupMinhash equals exact shingle-Jaccard >= 0.7 at verification scale") {
    // Like-for-like ground truth: same shingle sets, same measure.
    // (Token-SET Jaccard — dedupNgramJaccard's measure — is the
    // wrong baseline here: this corpus's tiny shared vocabulary
    // makes token sets near-identical across docs whose 3-shingle
    // sets are disjoint; measured containment was ~1%.)
    val exact = pairSet(TextQueries.shingleJaccardExact(spark, sf01, 0.7))
    val emitted = pairSet(TextQueries.dedupMinhash(spark, sf01))
    assert(exact.nonEmpty)
    assert(emitted == exact,
      s"missed=${(exact -- emitted).size} extra=${(emitted -- exact).size}")
  }

  test("dedupClustersLsh equals clustering the exact shingle-Jaccard pairs") {
    // ground truth for the full production path: exact pairs → the
    // same clustering algorithm; the LSH path must reproduce it
    val want = TextQueries.clustersOf(
        TextQueries.shingleJaccardExact(spark, sf01, 0.7)
          .select(col("a_id"), col("b_id")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    val got = TextQueries.dedupClustersLsh(spark, sf01)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    assert(want.nonEmpty)
    assert(got == want,
      s"missed=${(want -- got).size} extra=${(got -- want).size}")
  }

  test("tSplitSafe: every doc assigned exactly once, near-dup clusters " +
      "never straddle splits, and the assignment is deterministic") {
    val docsN = graft.sources.Tables.documents(spark, sf01).count()
    val out = TextQueries.tSplitSafe(spark, sf01).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(out.length.toLong == docsN, "not a total assignment")
    assert(out.map(_._1).distinct.length == out.length, "doc assigned twice")
    // the leakage guard: one split per cluster, by construction
    val splitsPerCluster = out.groupBy(_._2).map(_._2.map(_._3).distinct.length)
    assert(splitsPerCluster.forall(_ == 1),
      "a near-dup cluster straddles train/eval")
    // real clusters exist at this SF (else the guard is vacuous) and
    // they agree with the dedup pipeline's own labels
    val clusters = TextQueries.dedupClustersLsh(spark, sf01).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters.values.toSet.size < clusters.size,
      "fixture has no multi-doc cluster")
    out.filter(o => clusters.contains(o._1)).foreach { case (d, c, _) =>
      assert(c == clusters(d), s"doc $d labeled $c, dedup pipeline says ${clusters(d)}")
    }
    // all three splits are populated and roughly 80/10/10
    val by
      = out.groupBy(_._3).view.mapValues(_.length.toDouble / out.length).toMap
    assert(Set("train", "val", "test").subsetOf(by.keySet), s"missing split: $by")
    assert(by("train") > 0.6 && by("train") < 0.95, s"train share off: $by")
    // determinism: a second run is bit-identical
    assert(TextQueries.tSplitSafe(spark, sf01).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq
      == out.sorted.toSeq)
  }

  test("sourceFilterOf: dup-heavy source drops, boilerplate source drops, healthy source keeps") {
    import spark.implicits._
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val good = "the quick brown fox jumps over a lazy dog and runs to the hills in a bright morning of wind and rain while the children watch from a window and the dogs bark at the gate of the old farm house near the river bend"
    val docs = (
      // healthy: 6 distinct long docs with stopwords
      (0 until 6).map(i => (i.toLong, s"$good $good variant $i", "good.com")) ++
      // dup-heavy: 6 docs, 5 of them byte-identical after normalization
      (6 until 11).map(i => (i.toLong, s"$good   copy", "dups.com")) ++
      Seq((11L, s"$good other", "dups.com")) ++
      // boilerplate: no stopwords at all → stop_frac 0
      (12 until 18).map(i => (i.toLong,
        Seq.fill(60)(s"item$i").mkString(" "), "menu.com"))
    ).toDF("doc_id", "text", "source")
    val out = TextQueries.sourceFilterOf(docs).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getBoolean(6))).toMap
    assert(out.keySet == Set("good.com", "dups.com", "menu.com"))
    val (gN, gU, gDup, gKeep) = out("good.com")
    assert(gN == 6L && gU == 6L && gDup == 0.0 && gKeep)
    val (dN, dU, dDup, dKeep) = out("dups.com")
    assert(dN == 6L && dU == 2L && dDup == 0.6667 && !dKeep)
    val (_, _, _, mKeep) = out("menu.com")
    assert(!mKeep)
  }

  test("htmlCleanOf: hand-computed extraction over a hand-written page " +
      "(script strip, link density, terminal punct, min words, cookie)") {
    import spark.implicits._
    val html = "<html><head><script>var hidden = 1;</script></head><body>" +
      "<nav><a href=\"/\">Home</a> <a href=\"/x\">X</a></nav>" +
      "<p>The quick brown fox jumps over the lazy dog.</p>" +
      "<p>short line.</p>" +
      "<p>a line with enough words but no terminal punctuation</p>" +
      "<div>We use cookies to improve your experience online.</div>" +
      "<p>Is this the <b>final</b>   content line we keep?</p>" +
      "</body></html>"
    val out = TextQueries.htmlCleanOf(
      Seq((1L, html)).toDF("doc_id", "html")).collect()(0)
    // 7 raw lines: nav, 4 <p>, 1 <div>, the trailing </body></html>
    assert(out.getLong(1) == 7L, s"n_lines: $out")
    // kept: the fox line (ends '.', 9 words) and the final line (tag
    // stripped, multi-space collapsed, ends '?'); nav drops on 2
    // anchors, 'short line.' on words, the unpunctuated line on
    // punct, the cookie notice on the policy rule
    assert(out.getLong(2) == 2L, s"n_kept: $out")
    assert(out.getDouble(3) == 0.2857, s"keep_ratio: $out")
    assert(out.getString(4) ==
      "The quick brown fox jumps over the lazy dog.\n" +
        "Is this the final content line we keep?", s"clean_text: $out")
  }

  test("htmlCleanOf: adversarial corpus — pathological pages with " +
      "hand-computed goldens (unclosed tags, attribute '>', mixed-case " +
      "tags, nested anchors, tables, entities, pseudo-closers)") {
    import spark.implicits._
    // each golden is computed BY HAND under the documented rules; any
    // rule change that shifts one fails here with the page name
    val cases = Seq(
      ("unclosed_tag",
        "<p>An unclosed paragraph stays on one line.",
        (1L, 1L, 1.0, "An unclosed paragraph stays on one line.")),
      // the '>' inside a quoted attribute ends the tag for the regex
      // stripper — the residue b"> survives as text. Documented
      // limitation, PINNED so it can only change deliberately.
      ("attr_gt_in_quotes",
        "<p data-x=\"a>b\">An attribute closer splits naive strippers badly here.</p>",
        (2L, 1L, 0.5,
          "b\">An attribute closer splits naive strippers badly here.")),
      // block SPLIT is case-sensitive (</P> does not delimit), tag
      // STRIP is case-blind — the two paragraphs fuse into one line
      ("mixed_case_tags",
        "<P>Mixed case closers do not delimit lines here sadly.</P>" +
          "<p>The lowercase paragraph closer still works fine.</p>",
        (2L, 1L, 0.5,
          "Mixed case closers do not delimit lines here sadly. " +
            "The lowercase paragraph closer still works fine.")),
      ("nested_anchors",
        "<div><a href=\"/x\">Outer <a href=\"/y\">inner</a> anchor</a> " +
          "menu of links</div>",
        (2L, 0L, 0.0, "")),
      ("deep_table",
        "<table><tr><td>Row one carries enough words to pass muster.</td></tr>" +
          "<tr><td>Row two is here with plenty of words too.</td></tr></table>",
        (3L, 2L, 0.6667,
          "Row one carries enough words to pass muster.\n" +
            "Row two is here with plenty of words too.")),
      // &nbsp; must SEPARATE words for the ≥5-word rule (undecoded it
      // is one giant token and the line would drop)
      ("nbsp_word_fuse",
        "<p>Tiny&nbsp;words&nbsp;joined&nbsp;by&nbsp;spaces&nbsp;now&nbsp;" +
          "count&nbsp;properly.</p>",
        (2L, 1L, 0.5, "Tiny words joined by spaces now count properly.")),
      ("entity_decode",
        "<p>Safety &amp; quality &#39;filters&#39; decode &lt;markup&gt; " +
          "cleanly today.</p>",
        (2L, 1L, 0.5,
          "Safety & quality 'filters' decode <markup> cleanly today.")),
      // &amp;lt; decodes exactly once (to the TEXT "&lt;"), never
      // twice (to "<") — the decode-order pin
      ("no_double_decode",
        "<p>The text &amp;lt; stays encoded once decoded just one time.</p>",
        (2L, 1L, 0.5,
          "The text &lt; stays encoded once decoded just one time.")),
      ("style_block",
        "<style>p { color: red }</style>" +
          "<p>Styles vanish before any line rule ever runs.</p>",
        (2L, 1L, 0.5, "Styles vanish before any line rule ever runs.")),
      // a block-closer INSIDE a script string is consumed with the
      // script (strip runs before the line split) and never delimits
      ("script_pseudo_closer",
        "<script>var s = \"</p>\";</script>" +
          "<p>Script bodies never leak pseudo closers into lines.</p>",
        (2L, 1L, 0.5,
          "Script bodies never leak pseudo closers into lines.")))
    val out = TextQueries.htmlCleanOf(
      cases.zipWithIndex.map { case ((_, html, _), i) => (i.toLong, html) }
        .toDF("doc_id", "html"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getString(4))).toMap
    cases.zipWithIndex.foreach { case ((name, _, golden), i) =>
      assert(out(i.toLong) == golden,
        s"$name: got ${out(i.toLong)}, want $golden")
    }
  }

  test("tHtmlExtract: every rendered page has the fixed 7-line shape " +
      "and keeps at least the first content line") {
    val out = TextQueries.tHtmlExtract(spark, sf01).collect()
    assert(out.length == 500)
    assert(out.forall(_.getLong(1) == 7L), "page shape drifted")
    assert(out.forall(r => r.getLong(2) >= 1L && r.getLong(2) <= 2L),
      "first content line (120 chars + '.') must always survive")
  }

  test("tSourceFilter equals a driver-side recompute on sf0.01") {
    val out = TextQueries.tSourceFilter(spark, sf01).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), r.getBoolean(6))).toMap
    val docs = graft.sources.Tables.documents(spark, sf01)
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val stop = Set("the", "a", "of", "and", "to", "in", "is")
    val want = docs.groupBy(_._1).map { case (src, rows) =>
      val norm = rows.map(_._2.trim.toLowerCase.replaceAll("\\s+", " "))
      val toks = rows.map(_._2.trim.split("\\s+").toSeq)
      val nDocs = rows.length.toLong
      val nUniq = norm.distinct.length.toLong
      val tok = toks.map(_.length.toLong).sum
      val st = rows.map(_._2.trim.toLowerCase.split("\\s+").count(stop)).map(_.toLong).sum
      src -> (nDocs, nUniq, r4((nDocs - nUniq).toDouble / nDocs),
        r4(st.toDouble / tok), r4(tok.toDouble / nDocs))
    }
    assert(out.keySet == want.keySet)
    for ((src, (n, u, d, s, m)) <- want) {
      val (gN, gU, gD, gS, gM, gK) = out(src)
      assert((gN, gU, gD, gS, gM) == ((n, u, d, s, m)), s"source $src mismatch")
      assert(gK == (n >= 5L && d <= 0.2 && s >= 0.055 && m >= 50.0))
    }
    // thresholds discriminate on this corpus: some kept, some dropped
    assert(out.values.exists(_._6) && out.values.exists(!_._6))
  }

  test("tCollocations equals a driver-side PMI recompute on sf0.01") {
    val out = TextQueries.tCollocations(spark, sf01).collect()
      .map(r => r.getLong(4) -> (r.getString(0), r.getString(1),
        r.getLong(2), r.getDouble(3))).toMap
    // SQL trim strips U+0020 only (Java String.trim strips all
    // chars <= U+0020 — a tab-edged text would diverge); null
    // text mirrors docToks' null propagation (no tokens)
    def sqlTrim(s: String) = s.replaceAll("^ +| +$", "")
    val docs = graft.sources.Tables.documents(spark, sf01)
      .select(col("text")).collect().map(_.getString(0))
    val toks = docs.map(t => if (t == null) Seq.empty[String]
      else sqlTrim(t).toLowerCase.split("\\s+").toSeq.filter(_.nonEmpty))
    val uni = toks.flatten.groupBy(identity).map { case (w, ws) => w -> ws.size.toLong }
    val nu = uni.values.sum
    val bigrams = toks.filter(_.length >= 2)
      .flatMap(ts => ts.zip(ts.tail))
    val nb = bigrams.length.toLong
    val want = bigrams.groupBy(identity).collect {
      case ((w1, w2), bs) if bs.size >= 5 =>
        // the SAME left-associative double chain as the query/oracle
        val pmi = math.log(
          bs.size.toLong.toDouble * nu / uni(w1) / uni(w2) * nu / nb)
        (w1, w2, bs.size.toLong,
          BigDecimal(pmi).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toSeq.sortBy { case (w1, w2, cb, pmi) => (-pmi, -cb, w1, w2) }
      .take(50).zipWithIndex
      .map { case (r, i) => (i + 1).toLong -> r }.toMap
    assert(out.size == want.size)
    val bad = want.collect { case (rk, w) if out(rk) != w => (rk, w, out(rk)) }
    assert(bad.isEmpty, s"PMI recompute diverged on ${bad.take(5)}")
    // min-support really bites: every ranked pair carries cb >= 5
    assert(out.values.forall(_._3 >= 5L))
  }

  test("tWeightedSample equals an exact-integer driver recompute; selection is weight-biased") {
    val out = TextQueries.tWeightedSample(spark, sf01).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val docs = graft.sources.Tables.documents(spark, sf01)
      .select(col("source"), col("doc_id"), col("text")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
      // mirror the engine/oracle's `text IS NOT NULL` exclusion
      .filter(_._3 != null)
    def low32(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(d.substring(24, 32), 16)
    }
    // SQL trim (U+0020 only), not Java String.trim
    val prios = docs.map { case (src, id, text) =>
      val w = text.replaceAll("^ +| +$", "").split("\\s+").length.toLong
      (src, id, w, low32(s"$src:$id") / w)
    }
    val want = prios.groupBy(_._1).flatMap { case (src, ds) =>
      ds.sortBy(d => (d._4, d._2)).take(10).zipWithIndex.toSeq.map {
        case ((_, id, w, p), i) => (src, (i + 1).toLong) -> (id, w, p)
      }
    }
    assert(out.size == want.size)
    val bad = want.collect { case (k, v) if out(k) != v => (k, v, out(k)) }
    assert(bad.isEmpty, s"priority sample diverged on ${bad.take(5)}")
    // the sample is weight-biased: mean sampled weight exceeds the
    // corpus mean (priority u div w shrinks with w)
    val meanAll = prios.map(_._3).sum.toDouble / prios.length
    val meanSampled = out.values.map(_._2).sum.toDouble / out.size
    assert(meanSampled > meanAll,
      s"sampled mean weight $meanSampled not above corpus mean $meanAll")
  }

  test("shard shuffle and chunk packing invariants") {
    // pos is a dense 1..n_s rank within each shard; shards cover 0-15
    val shuffled = TextQueries.tShardShuffle(spark, sf01).collect()
    val byShard = shuffled.groupBy(_.getLong(1))
    assert(byShard.keySet.subsetOf((0L until 16L).toSet))
    byShard.foreach { case (s, rows) =>
      val ps = rows.map(_.getLong(2)).sorted
      assert(ps.sameElements(1L to rows.length.toLong), s"shard $s pos not dense")
    }
    // packing: chunks within a shard are contiguous — each doc begins
    // in the chunk where the previous doc's tokens left off
    val packed = TextQueries.tPackChunks(spark, sf01, budget = 256)
      .join(TextQueries.tShardShuffle(spark, sf01).select(col("doc_id"), col("pos")),
        Seq("doc_id"))
      .select(col("shard"), col("pos"), col("n_tokens"),
        col("chunk_first"), col("chunk_last"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getLong(3), r.getLong(4)))
    packed.groupBy(_._1).foreach { case (shard, rows) =>
      var cum = 0L
      rows.sortBy(_._2).foreach { case (_, _, nTok, first, last) =>
        assert(first == cum / 256, s"shard $shard: chunk_first mismatch")
        assert(last == (cum + nTok - 1) / 256, s"shard $shard: chunk_last mismatch")
        assert(first <= last)
        cum += nTok
      }
    }
  }

  test("tCompressRatio equals direct zlib output per doc") {
    val got = TextQueries.tCompressRatio(spark, sf01).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    val docs = graft.sources.Tables.documents(spark, sf01)
      .select(col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getString(1))
    assert(docs.nonEmpty && got.size == docs.length)
    docs.foreach { case (id, text) =>
      val raw = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val d = new java.util.zip.Deflater(6)
      d.setInput(raw); d.finish()
      val buf = new Array[Byte](8192)
      var n = 0L
      while (!d.finished()) n += d.deflate(buf)
      d.end()
      val ratio = BigDecimal(n.toDouble / math.max(raw.length, 1))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(got(id) == ((raw.length.toLong, n, ratio)), s"doc $id mismatch")
    }
    // the signal points the right way: the repetitive vocabulary
    // compresses most docs well below raw size (short docs can top
    // 1.0 on zlib header overhead — that is the expected shape)
    assert(got.values.count(_._3 < 0.9) > got.size * 9 / 10)
    assert(got.values.map(_._3).min < 0.6)
  }

  test("decontamination: benchmark docs excluded, clean docs score zero") {
    val out = TextQueries.tDecontaminate(spark, sf01).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.keySet.forall(_ % 97 != 0), "benchmark docs leaked into output")
    assert(out.nonEmpty)
    // a doc with no 5-gram in common with the benchmark slice scores 0,
    // and the count never exceeds the doc's own distinct gram count
    val nonneg = out.values.forall(_ >= 0)
    assert(nonneg)
  }

  test("minhash banding catches every J >= 0.9 pair (theory: p_miss ~ 4e-5/pair)") {
    val high = pairSet(TextQueries.shingleJaccardExact(spark, sf01, 0.9))
    val cands = pairSet(TextQueries.minhashCandidates(spark, sf01))
    assert(high.nonEmpty)
    assert((high -- cands).isEmpty, s"banding missed ${(high -- cands).size} high-J pairs")
  }

  test("hot-band cap: mass duplication collapses, saturated buckets drop, pairs unchanged") {
    // Three populations:
    //  - 30 exact copies of one doc → digest collapse must reduce them
    //    to ONE banding representative (the web-scale boilerplate
    //    case), with their 435 J=1.0 pairs produced by the expansion;
    //  - 60 "boundary" docs sharing a 40-token common block plus 14
    //    unique tokens each → pairwise J ≈ 0.58 (below threshold, so
    //    they are NOT result pairs) but ~29% of them keep the common
    //    block's minima in any given band → band buckets well above
    //    the test cap of 8 — the degenerate-band hot bucket;
    //  - 5 genuine near-dup pairs (J ≈ 0.97) on disjoint vocabulary →
    //    their buckets hold 2 docs, far under the cap.
    // The cap must FIRE (hot buckets exist, candidate join shrinks)
    // while the output pair set stays EXACTLY the brute-force ground
    // truth — losslessness of the cap on this corpus.
    import spark.implicits._
    val common = (0 until 40).map(i => s"common$i").mkString(" ")
    val boundary = (0 until 60).map(i =>
      (100L + i, "en", common + " " + (0 until 14).map(j => s"u${i}w$j").mkString(" ")))
    val dupText = (0 until 30).map(i => s"dup$i").mkString(" ")
    val massDup = (0 until 30).map(i => (300L + i, "en", dupText))
    val truePairs = (0 until 5).flatMap { k =>
      val base = (0 until 30).map(j => s"p${k}t$j").mkString(" ")
      Seq((200L + 2 * k, "en", base), (201L + 2 * k, "en", base + s" extra$k"))
    }
    val rows = boundary ++ massDup ++ truePairs
    val dir = Files.createTempDirectory("hotband").toString
    rows.toDF("doc_id", "lang", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")

    val docsDf = rows.toDF("doc_id", "lang", "text").select(col("doc_id"), col("text"))
    val sh = TextQueries.hashedShinglesOf(docsDf)
    val cap = 8

    // (a) the cap fires: saturated buckets exist at rep level, and
    // excluding them strictly shrinks the candidate join
    val hot = TextQueries.minhashHotBuckets(sh, cap).count()
    assert(hot > 0, "fixture produced no hot band bucket — cap never exercised")
    val capped = TextQueries.minhashCandidatesOf(sh, cap).count()
    val uncapped = TextQueries.minhashCandidatesOf(sh, Int.MaxValue).count()
    assert(capped < uncapped,
      s"cap did not shrink the candidate join ($capped vs $uncapped)")

    // (b) digest collapse: the 30 copies are ONE distinct set
    val nReps = sh.select(TextQueries.shingleDigest(col("sh"))).distinct().count()
    assert(nReps == rows.size - 29, s"expected ${rows.size - 29} reps, got $nReps")

    // (c) losslessness: capped output == exact brute-force ground truth
    val exact = pairSet(TextQueries.shingleJaccardExact(spark, dir, 0.7))
    val emitted = pairSet(TextQueries.dedupMinhashOf(sh, cap))
    assert(exact.size >= 435 + 5, s"ground truth unexpectedly small: ${exact.size}")
    assert(emitted == exact,
      s"missed=${(exact -- emitted).size} extra=${(emitted -- exact).size}")
  }

  test("dedupEditDist collapse+cap path equals naive all-pairs on sf0.01") {
    // the production pipeline (prefix collapse → block cap →
    // per-distinct-pair levenshtein → expansion) must be output-
    // identical to the naive blocked all-pairs join whenever no
    // block trips the cap — which sf0.01 must not (the corpus has
    // no mass boilerplate; if this ever fires, the fixture spec
    // below documents the intended divergence)
    val d = graft.sources.Tables.documents(spark, sf01)
      .select(col("doc_id"), col("lang"),
        substring(trim(col("text")), 1, 256).as("pfx"),
        substring(trim(col("text")), 1, 16).as("blk"))
      .filter(col("pfx").rlike("^[ -~]*$"))
    val a = d.select(col("doc_id").as("a_id"), col("lang"), col("blk"),
      col("pfx").as("pa"))
    val b = d.select(col("doc_id").as("b_id"), col("lang"), col("blk"),
      col("pfx").as("pb"))
    val naive = a.join(b, Seq("lang", "blk"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        levenshtein(col("pa"), col("pb")).as("dist"))
      .filter(col("dist") <= 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val got = TextQueries.dedupEditDist(spark, sf01)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(naive.nonEmpty)
    assert(got == naive,
      s"missed=${(naive -- got).size} extra=${(got -- naive).size}")
  }

  test("editdist hot-block cap: boilerplate block drops, exact-prefix army immune") {
    import spark.implicits._
    // Three populations in two (lang, blk) blocks, cap = 4:
    //  - 6 DISTINCT prefixes sharing one 16-char opening (mass
    //    boilerplate — every page starts with the same header) →
    //    block population 7 distinct prefixes (with the army below)
    //    > cap → the block's cross-prefix pairs are withheld;
    //  - an ARMY of 10 exact-prefix copies inside that same hot
    //    block → their 45 dist-0 pairs ride the collapse path and
    //    must SURVIVE the cap (minhash's digest-immunity analog);
    //  - a cold block: two prefixes at dist 1 (a pair) plus one
    //    beyond maxDist (no pair) — untouched by the cap.
    val hotBlk = "<!DOCTYPE html> "
    require(hotBlk.length == 16)
    val coldBlk = "cold evidence :("
    require(coldBlk.length == 16)
    val variants = (0 until 6).map(i =>
      (i.toLong, "en", hotBlk + s"variant $i page body"))
    val army = (0 until 10).map(i =>
      (100L + i, "en", hotBlk + "identical army tail"))
    val coldPair = Seq(
      (200L, "en", coldBlk + " shared tail here"),
      (201L, "en", coldBlk + " shared tail herX"))
    val coldFar = Seq((202L, "en", coldBlk + ("Z" * 100)))
    val d = (variants ++ army ++ coldPair ++ coldFar)
      .toDF("doc_id", "lang", "pfx")
      .withColumn("blk", substring(col("pfx"), 1, 16))
    def triples(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val capped = triples(TextQueries.dedupEditDistOf(d, 64, cap = 4))
    val uncapped = triples(TextQueries.dedupEditDistOf(d, 64, cap = Int.MaxValue))
    val armyPairs = (for {
      i <- 0 until 10; j <- (i + 1) until 10
    } yield (100L + i, 100L + j, 0)).toSet
    // capped = army (collapse path) + cold pair; hot cross pairs gone
    assert(capped == armyPairs + ((200L, 201L, 1)),
      s"capped output wrong: ${capped.size} rows")
    // uncapped additionally holds the hot block's cross pairs
    assert((uncapped -- capped).nonEmpty, "cap never withheld anything")
    assert((uncapped -- capped).forall { case (x, y, _) =>
      Set(x, y).subsetOf((0L until 6L).toSet ++ (100L to 109L)) },
      "cap leaked or dropped outside the hot block")
    assert(capped.subsetOf(uncapped))
  }

  test("tSourceOverlap equals a driver-side shingle-set recompute") {
    val out = TextQueries.tSourceOverlap(spark, sf01).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // independent ground truth: string shingle sets per source,
    // computed in plain Scala (the engine counts xxhash64 shingles —
    // equal counts up to 2^-64 collisions)
    val docs = graft.sources.Tables.documents(spark, sf01)
      .select(col("source"), col("text")).collect()
      .map(r => r.getString(0) -> r.getString(1))
    val bySource = docs.groupBy(_._1).map { case (s, ds) =>
      s -> ds.flatMap { case (_, text) =>
        val toks = text.trim.toLowerCase.replaceAll("\\s+", " ")
          .trim.split("\\s+").toSeq
        if (toks.length < 3) Seq.empty
        else toks.sliding(3).map(_.mkString(" ")).toSeq
      }.toSet
    }
    val sources = bySource.keys.toSeq.sorted
    for {
      i <- sources.indices; j <- (i + 1) until sources.length
      (a, b) = (sources(i), sources(j))
      common = (bySource(a) & bySource(b)).size
      if common > 0
    } {
      assert(out.contains((a, b)), s"missing pair ($a, $b)")
      val (na, nb, nc) = out((a, b))
      assert((na, nb, nc) ==
        ((bySource(a).size.toLong, bySource(b).size.toLong, common.toLong)),
        s"($a, $b): got ($na, $nb, $nc), want " +
          s"(${bySource(a).size}, ${bySource(b).size}, $common)")
    }
    assert(out.nonEmpty)
    out.values.foreach { case (na, nb, nc) =>
      assert(nc <= math.min(na, nb), "common exceeds a side's census") }
  }

  test("dedupEditDistOf equals naive all-pairs on randomized corpora (uncapped)") {
    // randomized adversaries: shared-prefix families, exact-copy
    // armies, near-misses at the maxDist boundary, multi-language
    // collisions — the collapse+expansion refactor must be
    // output-identical to the naive join on every draw
    import spark.implicits._
    val rnd = new scala.util.Random(0xED17)
    for (trial <- 0 until 4) {
      val blocks = Seq("<!doctype html> ", "shared header :: ", "zz")
      val langs = Seq("en", "de")
      val docs = (0 until 40).map { i =>
        val blk = blocks(rnd.nextInt(blocks.length))
        val tail = rnd.nextInt(4) match {
          case 0 => "common tail " + ("x" * rnd.nextInt(10))
          case 1 => "common tail edited " + rnd.nextInt(3)
          case 2 => rnd.alphanumeric.take(30 + rnd.nextInt(40)).mkString
          case _ => "common tail"
        }
        (i.toLong, langs(rnd.nextInt(langs.length)), blk + tail)
      }
      val d = docs.toDF("doc_id", "lang", "text")
        .select(col("doc_id"), col("lang"),
          substring(trim(col("text")), 1, 64).as("pfx"),
          substring(trim(col("text")), 1, 16).as("blk"))
      val a = d.select(col("doc_id").as("a_id"), col("lang"), col("blk"),
        col("pfx").as("pa"))
      val b = d.select(col("doc_id").as("b_id"), col("lang"), col("blk"),
        col("pfx").as("pb"))
      val naive = a.join(b, Seq("lang", "blk"))
        .filter(col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id"),
          levenshtein(col("pa"), col("pb")).as("dist"))
        .filter(col("dist") <= 10)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val got = TextQueries.dedupEditDistOf(d, 10, cap = Int.MaxValue)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(got == naive,
        s"trial $trial: missed=${(naive -- got).size} extra=${(got -- naive).size}")
      assert(naive.nonEmpty, s"trial $trial produced no pairs — fixture too sparse")
    }
  }

  test("dedupClusters: label propagation equals hand-computed components") {
    import spark.implicits._
    // components: {1,2,3,4} via a transitive chain (1-2, 2-3, 3-4 —
    // no direct 1-4 edge, the case pairwise dedup gets wrong),
    // {10,11} a plain pair, {20,21,22} a triangle with redundant
    // edges, and an 8-node chain to force several propagation rounds
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L)) ++
      (30L until 37L).map(i => (i, i + 1))
    val got = TextQueries.clustersOf(pairs.toDF("a_id", "b_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want =
      Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L,
        20L -> 20L, 21L -> 20L, 22L -> 20L) ++
        (30L to 37L).map(_ -> 30L)
    assert(got == want.toMap)
    // empty pair set → empty clustering, not a crash (both algorithms)
    assert(TextQueries.clustersOf(
      Seq.empty[(Long, Long)].toDF("a_id", "b_id")).count() == 0)
    assert(TextQueries.clustersOfStar(
      Seq.empty[(Long, Long)].toDF("a_id", "b_id")).count() == 0)
  }

  /** Driver-side union-find — the independent ground truth for the
    * two distributed clustering algorithms. */
  private def unionFind(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    pairs.flatMap(p => Seq(p._1, p._2)).distinct.map(x => x -> find(x)).toMap
  }

  test("both clustering algorithms equal union-find on randomized graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(123)
    for (g <- 0 until 8) {
      val ids = rnd.shuffle((0L until 1000L).toList).take(8 + rnd.nextInt(22))
      val pairs = for {
        i <- ids; j <- ids if i < j && rnd.nextDouble() < 0.12
      } yield (i, j)
      if (pairs.nonEmpty) {
        val df = pairs.toDF("a_id", "b_id")
        val want = unionFind(pairs).toSeq
          .map { case (a, b) => Seq[Any](a, b) }.sortBy(_.mkString("\u0001"))
        val star = sortedRows(TextQueries.clustersOfStar(df))
        // local_finish forced dist takes the distributed propagation
        // path; the default path (bounded driver union-find finish) is
        // the same algorithm as `want` but must agree through the
        // contraction composition too
        val prop = withRoutes(dist = Seq("local_finish"))(
          sortedRows(TextQueries.clustersOf(df)))
        val local = withRoutes(local = Seq("local_finish"))(
          sortedRows(TextQueries.clustersOf(df)))
        assert(star == want, s"graph $g: large/small-star != union-find")
        assert(prop == want, s"graph $g: label propagation != union-find")
        assert(local == want, s"graph $g: local-finish != union-find")
      }
    }
  }

  test("pathological diameter: star algorithm converges, propagation falls back") {
    import spark.implicits._
    // a pure chain is the worst case for per-hop propagation: the min
    // label travels one hop per round
    val chain = (0L until 120L).map(i => (i, i + 1))
    val want = (0L to 120L).map(i => Seq[Any](i, 0L)).sortBy(_.mkString("\u0001"))
    val star = sortedRows(TextQueries.clustersOfStar(chain.toDF("a_id", "b_id")))
    assert(star == want, "star algorithm wrong on the chain")
    // propagation with a tiny round cap must hand off to the star
    // fallback and still return the exact clustering (local_finish
    // forced dist: the default bounded local finish would absorb a
    // 120-edge remainder before propagation ever iterated)
    val viaFallback = withRoutes(dist = Seq("local_finish"))(
      sortedRows(TextQueries.clustersOf(chain.toDF("a_id", "b_id"), maxRounds = 3)))
    assert(viaFallback == want, "fallback handoff returned a wrong clustering")
    // and the auto route of the same chain takes the local finish
    assert(withRoutes(local = Seq("local_finish"))(
      sortedRows(TextQueries.clustersOf(chain.toDF("a_id", "b_id"), maxRounds = 3))) == want)
  }

  test("winnowing guarantee: docs sharing an 11+ char substring share a selected hash") {
    // k=8, w=4 → any shared normalized substring of length w+k-1=11
    // contains a full gram window whose minimum is selected on both
    // sides; docs with NO shared substring share nothing.
    val shared = "the quick brown fox jumps over the lazy dog"
    val rows = Seq(
      (1L, "en", s"completely different opening text $shared and a distinct tail here"),
      (2L, "en", s"another unrelated prefix words $shared trailing material differs"),
      (3L, "en", "zero overlap with any of it: purple elephants calculate binary sonnets"))
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("winnow").toString
    rows.toDF("doc_id", "lang", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val sel = TextQueries.winnowSelected(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    assert((sel(1L) & sel(2L)).nonEmpty, "shared substring produced no shared hash")
    assert((sel(1L) & sel(3L)).isEmpty && (sel(2L) & sel(3L)).isEmpty,
      "disjoint docs share fingerprint hashes")
  }

  test("tLangId >= 0.9 accuracy on a corpus with real language signal") {
    // The driver testdata's `lang` label is independent of its text
    // (all langs draw the same vocabulary — measured trigram-profile
    // accuracy 0.31 vs 0.44 majority baseline; no classifier can do
    // better there). Real ground truth needs text that actually
    // varies by language, so this fixture plants three languages
    // with distinct character statistics.
    val en = Seq("the quick brown fox jumps over the lazy dog near the river bank",
      "a stream of data flows through the query engine every night",
      "children walk to school along the quiet street in the morning",
      "the weather this weekend should be warm with clear blue skies")
    val de = Seq("der schnelle braune fuchs springt über den faulen hund am flussufer",
      "ein datenstrom fließt jede nacht durch die abfrageverarbeitung",
      "die kinder gehen morgens die ruhige straße entlang zur schule",
      "das wetter am wochenende soll warm werden mit klarem blauem himmel")
    val fr = Seq("le renard brun rapide saute par dessus le chien paresseux près de la rivière",
      "un flux de données traverse le moteur de requêtes chaque nuit",
      "les enfants marchent vers l'école le long de la rue calme le matin",
      "la météo de ce weekend devrait être chaude avec un ciel bleu dégagé")
    val rows = for {
      (lang, sents) <- Seq("en" -> en, "de" -> de, "fr" -> fr)
      i <- 0 until 12
    } yield (lang.hashCode.toLong * 100 + i,
      lang, sents(i % sents.size) + " " + sents((i + 1) % sents.size))
    import spark.implicits._
    val dir = Files.createTempDirectory("langid").toString
    rows.toDF("doc_id", "lang", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val pred = TextQueries.tLangId(spark, dir)
    val acc = pred.select(when(col("lang") === col("predicted"), 1.0).otherwise(0.0).as("ok"))
      .agg(avg(col("ok"))).head.getDouble(0)
    assert(acc >= 0.9, s"lang-id accuracy $acc < 0.9 on signal-bearing fixture")
  }

  test("tLangId fused scoring pass equals the join+window form") {
    // the round-18 scoring rewrite (collected profile model + one
    // map-only argmax pass) must be row-identical to the round-17
    // shape: exploded trigrams joined against the broadcast profile,
    // grouped, rank-windowed. Compared as sorted multisets so a
    // duplicated/deduplicated row cannot hide.
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val tris = graft.sources.Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"),
          explode(call_function("graft_char_ngrams",
            regexp_replace(lower(trim(col("text"))), "\\s+", " "),
            lit(3))).as("tri"))
      val topPerLang = tris.groupBy(col("lang"), col("tri")).count()
        .withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("lang"))
            .orderBy(col("count").desc, col("tri"))))
        .filter(col("rk") <= 40)
        .select(col("lang").as("profile_lang"), col("tri"))
      val joinForm = tris.join(broadcast(topPerLang), Seq("tri"))
        .groupBy(col("doc_id"), col("lang"), col("profile_lang"))
        .agg(count(lit(1)).as("hits"))
        .withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
            .orderBy(col("hits").desc, col("profile_lang"))))
        .filter(col("rk") === 1)
        .select(col("doc_id"), col("lang"),
          col("profile_lang").as("predicted"), col("hits"))
        .collect().map(_.toSeq).sortBy(_.toString)
      val fused = TextQueries.tLangId(spark, dir)
        .collect().map(_.toSeq).sortBy(_.toString)
      assert(fused.toSeq == joinForm.toSeq,
        s"$dir: fused lang-id scoring diverges from the join+window form")
    }
  }

  test("tDsirWeights fused scoring pass equals the broadcast-join form") {
    // round-18 rewrite pin: the collected 1024-bucket weight model +
    // per-doc fold must reproduce the round-17 broadcast-join +
    // groupBy(doc_id) rows bit-for-bit (same IEEE sum order: each
    // doc's grams fold left-to-right in both shapes).
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val buckets = lit(1024L)
      val toks = graft.sources.Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"),
          filter(split(trim(lower(col("text"))), "\\s+"), t => t =!= "").as("toks"))
        .withColumn("n", size(col("toks")))
        .filter(col("n") >= 2)
      val bucketed = toks.select(col("doc_id"), col("lang"), explode(expr(
          "transform(sequence(0, n - 2), i -> concat(toks[i], ' ', toks[i + 1]))"))
          .as("g"))
        .select(col("doc_id"), col("lang"),
          pmod(conv(substring(md5(col("g")), 25, 8), 16, 10).cast("long"),
            buckets).as("b"))
      val counts = bucketed.groupBy(col("b")).agg(
        count(lit(1)).as("cr"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("ct"))
      val totals = broadcast(counts.agg(
        sum(col("cr")).as("nr"), sum(col("ct")).as("nt")))
      val logw =
        log((col("ct") + lit(1.0d)) / (col("nt") + lit(1024.0d))) -
        log((col("cr") + lit(1.0d)) / (col("nr") + lit(1024.0d)))
      val joinForm = bucketed
        .join(broadcast(counts), Seq("b"))
        .crossJoin(totals)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"),
          round(sum(logw) / count(lit(1)), 4).as("dsir_logratio"))
        .withColumn("target_like", col("dsir_logratio") > 0)
        .collect().map(_.toSeq).sortBy(_.toString)
      val fused = TextQueries.tDsirWeights(spark, dir)
        .collect().map(_.toSeq).sortBy(_.toString)
      assert(fused.toSeq == joinForm.toSeq,
        s"$dir: fused DSIR scoring diverges from the broadcast-join form")
    }
  }

  test("tHeavyHittersCms estimates bound exact counts and recover the exact top-k") {
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val exactTop = TextQueries.tHeavyHitters(spark, dir)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val cmsTop = TextQueries.tHeavyHittersCms(spark, dir)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      // the sketched top-k finds the same heavy-hitter set
      assert(cmsTop.keySet == exactTop.keySet,
        s"$dir: cms top-k ${cmsTop.keySet} != exact ${exactTop.keySet}")
      // CMS never under-counts, and over-count is bounded by the
      // colliding mass: N/width per row, min over depth rows — 2×
      // the single-row expectation is a generous deterministic bound
      val nTokens = graft.sources.Tables.documents(spark, dir)
        .select(explode(split(trim(lower(col("text"))), "\\s+")).as("t"))
        .count()
      val slack = 2L * nTokens / 2048 + 1
      for ((term, cnt) <- exactTop) {
        val est = cmsTop(term)
        assert(est >= cnt, s"$dir/$term: CMS under-counted $est < $cnt")
        assert(est <= cnt + slack,
          s"$dir/$term: CMS over-count $est > $cnt + $slack")
      }
    }
  }

  test("tLmScore: add-one bigram NLL matches hand-computed model exactly") {
    import spark.implicits._
    // ref slice = even doc_ids (0, 2). Model: cu(a)=2, cu(b)=4, V=2;
    // cb(a,b)=2, cb(b,a)=1, cb(b,b)=1.
    val rows = Seq((0L, "en", "a b a b"), (1L, "en", "a b c"), (2L, "en", "b b"))
    val dir = Files.createTempDirectory("lmscore").toString
    rows.toDF("doc_id", "lang", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")

    def nll(cb: Long, cu: Long, v: Long): Double =
      -math.log((cb + 1.0) / (cu + v))
    val expected = Map(
      // doc 0: (a,b) ×2, (b,a) ×1
      0L -> (3L, (2 * nll(2, 2, 2) + nll(1, 4, 2)) / 3),
      // doc 1: (a,b) cb=2 cu(a)=2; (b,c) cb=0 cu(b)=4
      1L -> (2L, (nll(2, 2, 2) + nll(0, 4, 2)) / 2),
      // doc 2: (b,b) cb=1 cu(b)=4
      2L -> (1L, nll(1, 4, 2)))

    val out = TextQueries.tLmScore(spark, dir)
      .select(col("doc_id"), col("n_bigrams"), col("avg_nll"), col("ppl"))
      .as[(Long, Long, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out.keySet == expected.keySet)
    for ((id, (nBig, avg)) <- expected) {
      val (gotN, gotAvg, gotPpl) = out(id)
      assert(gotN == nBig, s"doc $id n_bigrams")
      assert(math.abs(gotAvg - math.rint(avg * 1e4) / 1e4) < 1e-9, s"doc $id avg_nll")
      assert(math.abs(gotPpl - math.rint(math.exp(avg) * 1e2) / 1e2) < 1e-9,
        s"doc $id ppl")
    }
    // the even half scores strictly better than the odd doc with the
    // unseen bigram — the filter signal the query exists to produce
    assert(out(1L)._2 > out(0L)._2)
  }

  test("tSubstringSpans: hand-computed duplicated spans, merge and gap semantics") {
    import spark.implicits._
    // 3-gram occurrences across the fixture: "a b c" in docs 1@0,
    // 2@2, 5@0; "b c d" in 1@1, 2@3; "d e f" in 1@3, 5@5; "m m m"
    // 4× within doc 4 (self-duplication counts). Everything else is
    // unique.
    val docs = Seq(
      (1L, "a b c d e f"),
      (2L, "x y a b c d z"),
      (3L, "p q r s"),
      (4L, "m m m m m m"),
      (5L, "a b c q q d e f")).toDF("doc_id", "text")
    val got = TextQueries.tSubstringSpansOf(docs, spanGram = 3)
      .select(col("doc_id"), col("span_start"), col("span_end"), col("span_tokens"))
      .as[(Long, Long, Long, Long)].collect().toSet
    val expected = Set(
      // doc 1: dup positions {0,1,3} — 3 touches span-end 3, merges
      (1L, 0L, 5L, 6L),
      // doc 2: {2,3} merge
      (2L, 2L, 5L, 4L),
      // doc 4: within-doc repeats cover the whole doc
      (4L, 0L, 5L, 6L),
      // doc 5: {0,5} — gap of unique positions splits the spans
      (5L, 0L, 2L, 3L),
      (5L, 5L, 7L, 3L))
    assert(got == expected, s"got $got")
    // doc 3 (all grams unique) emits nothing — checked by set equality
  }

  test("tQualityClassifier: loss decreases, beats majority baseline, probs equal driver recompute") {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val frame = TextQueries.classifierFrame(
      graft.sources.Tables.documents(spark, sf01))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the query's exact sample construction (content-hash order), so
    // the parity check below trains on byte-identical input
    val sample = frame
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id")).limit(100000)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))

    def prob(w: Array[Double], x: Array[Double]): Double = {
      var z = w.last; var i = 0
      while (i < x.length) { z += w(i) * x(i); i += 1 }
      1.0 / (1.0 + math.exp(-z))
    }
    // log-loss computed by THIS spec's own code — independent of the
    // implementation under test
    def loss(w: Array[Double]): Double = -sample.map { case (_, x, y) =>
      val p = prob(w, x).max(1e-12).min(1 - 1e-12)
      y * math.log(p) + (1 - y) * math.log(1 - p)
    }.sum / sample.length

    val trainIn = sample.map(d => (d._2, d._3)).toSeq
    val checkpoints = Seq(0, 50, 150, 300, 500)
    val byIter = checkpoints.map(i =>
      loss(graft.ops.LogReg.train(trainIn, i, 0.5)))
    for (i <- 1 until byIter.length)
      assert(byIter(i) <= byIter(i - 1) * (1 + 1e-9),
        s"loss rose between iterations ${checkpoints(i - 1)} and ${checkpoints(i)}: " +
          s"${byIter(i - 1)} -> ${byIter(i)}")
    assert(byIter.last < byIter.head, "training never moved")

    val out = TextQueries.tQualityClassifier(spark, sf01).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2), r.getBoolean(3)))
    assert(out.length == sample.length)
    // accuracy vs the rule labels must beat the majority baseline
    // (keep fraction ~0.82 at sf0.01) — a degenerate always-keep
    // model fails this
    val labels = sample.map(d => d._1 -> d._3).toMap
    val acc = out.count { case (id, _, pred, _) =>
      pred == (labels(id) == 1.0) }.toDouble / out.length
    val majority = math.max(labels.values.sum, labels.size - labels.values.sum) /
      labels.size.toDouble
    assert(acc > majority + 0.02,
      f"classifier accuracy $acc%.3f does not beat majority baseline $majority%.3f")
    // measured: acc 0.90 vs majority 0.822 at sf0.01 (a linear model
    // approximating an AND-of-thresholds rule — not separable, so
    // 1.0 is not expected)
    assert(acc >= 0.88, f"classifier accuracy $acc%.3f below measured floor 0.88")
    // the emitted probabilities equal a driver-side recompute with
    // re-trained weights on the same-ordered sample (same JVM, same
    // IEEE ops → exact after rounding)
    val w = graft.ops.LogReg.train(trainIn, 500, 0.5)
    val feats = sample.map(d => d._1 -> d._2).toMap
    for ((id, p, pred, ruleKeep) <- out) {
      val expect = BigDecimal(prob(w, feats(id)))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(p == expect, s"doc $id prob $p, driver recompute $expect")
      assert(pred == (prob(w, feats(id)) >= 0.5))
      assert(ruleKeep == (labels(id) == 1.0))
    }
    frame.unpersist()
  }

  test("tDecontaminateBloom equals an independent driver-side Bloom recompute, " +
    "including forced false positives") {
    import spark.implicits._
    // Engineered corpus: bench docs are ids % 7 == 0 (benchMod 7
    // keeps the bench slice meaningful at 60 docs); contaminated
    // probe docs embed an exact bench 5-gram mid-text.
    val benchGram = "alpha beta gamma delta epsilon"
    val texts = (0 until 60).map { id =>
      val base = s"doc $id filler one two three four five six seven eight nine"
      val t =
        if (id % 7 != 0 && id % 3 == 0) s"lead in $benchGram trail out $id"
        else if (id % 7 == 0) s"$benchGram bench body $id markers"
        else base
      (id.toLong, t)
    }
    val docs = texts.toDF("doc_id", "text")
    // Independent recompute: pure-JVM tokenization, md5 double
    // hashing, and a bit set — no Spark expressions shared.
    def h(s: String): (Long, Long) = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(hex.substring(24, 32), 16),
        java.lang.Long.parseLong(hex.substring(16, 24), 16) | 1L)
    }
    def gramsOf(text: String): Set[String] = {
      val w = text.trim.toLowerCase.split("\\s+")
      if (w.length < 5) Set.empty
      else (0 to w.length - 5).map(i => w.slice(i, i + 5).mkString(" ")).toSet
    }
    // mBits=64 (one word) forces false positives on a 60-doc corpus;
    // also run the production 2^17 size where FP ~ 0.
    for (mBits <- Seq(64, TextQueries.BloomMBits)) {
      val k = TextQueries.BloomK
      val bits = new Array[Boolean](mBits)
      for ((id, t) <- texts; g <- gramsOf(t) if id % 7 == 0;
           j <- 0 until k) {
        val (h1, h2) = h(g)
        bits(((h1 + j * h2) % mBits).toInt) = true
      }
      val want = texts.filter(_._1 % 7 != 0).map { case (id, t) =>
        id -> gramsOf(t).count { g =>
          val (h1, h2) = h(g)
          (0 until k).forall(j => bits(((h1 + j * h2) % mBits).toInt))
        }.toLong
      }.toMap
      val got = TextQueries
        .tDecontaminateBloomOf(docs, 5, 7, mBits, k)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"mBits=$mBits: engine disagrees with recompute")
      // exact contamination is a lower bound everywhere (one-sided)
      val benchGrams = texts.filter(_._1 % 7 == 0).flatMap(t => gramsOf(t._2)).toSet
      val exact = texts.filter(_._1 % 7 != 0).map { case (id, t) =>
        id -> gramsOf(t).count(benchGrams).toLong
      }.toMap
      assert(want.forall { case (id, nb) => nb >= exact(id) })
      if (mBits == 64)
        assert(want.values.sum > exact.values.sum,
          "tiny filter produced no false positives — the FP arm is untested")
      else
        assert(exact.count { case (_, n) => n > 0 } > 0)
    }
  }

  test("tSourceOverlapMinhash equals an independent driver-side sketch recompute") {
    // From-first-principles ground truth: java.security MD5 + pure
    // Scala affine mins over the raw parquet text, no Spark
    // expressions shared with the engine path.
    val dir = "/root/testdata/sf0.001"
    def h32(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.takeRight(4).map("%02x".format(_)).mkString, 16)
    }
    val M = 4294967296L
    val abs = TextQueries.srcMinhashAbs
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val sigs: Map[String, Vector[Long]] = docs.groupBy(_._1).flatMap {
      case (src, ds) =>
        val mins = Array.fill(32)(Long.MaxValue)
        var any = false
        for ((_, text) <- ds) {
          val toks = text.trim.toLowerCase.split("\\s+")
          if (toks.length >= 3) {
            any = true
            for (i <- 0 to toks.length - 3) {
              val h = h32(s"${toks(i)} ${toks(i + 1)} ${toks(i + 2)}")
              var j = 0
              while (j < 32) {
                val v = (abs(j)._1 * h + abs(j)._2) % M
                if (v < mins(j)) mins(j) = v
                j += 1
              }
            }
          }
        }
        if (any) Some(src -> mins.toVector) else None
    }
    val srcs = sigs.keys.toSeq.sorted
    val want = (for { a <- srcs; b <- srcs if a < b } yield {
      val m = sigs(a).zip(sigs(b)).count { case (x, y) => x == y }.toLong
      // m/32.0 is an exact binary fraction, so HALF_UP at 4 decimals
      // is deterministic on both sides
      (a, b, m, BigDecimal(m / 32.0)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }).toSet
    val got = TextQueries.tSourceOverlapMinhash(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(want.nonEmpty)
    assert(got == want,
      s"missed=${(want -- got).size} extra=${(got -- want).size}")
  }

  test("tSourceOverlapLsh equals the exact matrix filtered to the threshold (query setting)") {
    // the banding guarantee is EXACTNESS above minMatch — so the
    // banded output must be set-identical to the full S² matrix
    // filtered to sig_match >= minMatch, on real data
    val dir = "/root/testdata/sf0.001"
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    val exact = rows(TextQueries.tSourceOverlapMinhash(spark, dir))
      .filter(_._3 >= TextQueries.SrcLshMinMatch)
    val banded = rows(TextQueries.tSourceOverlapLsh(spark, dir))
    assert(banded.nonEmpty, "threshold too high for the synthetic corpus — vacuous test")
    assert(banded == exact,
      s"missed=${(exact -- banded).size} extra=${(banded -- exact).size}")
  }

  test("tSourceOverlapLsh at the 16×2 scale setting: pigeonhole boundary is exact") {
    // Synthetic signatures drive the WORST case for 16 bands × 2 rows,
    // minMatch 17: a pair with exactly 17 agreements whose 15
    // disagreements break 15 of the 16 bands (one intact band left —
    // the pigeonhole minimum), a pair at 16 agreements with every band
    // broken, and an exact duplicate.
    import spark.implicits._
    def sig(name: String, agreeWithBase: Set[Int]): (String, Seq[Long]) =
      (name, (0 until 32).map(i =>
        if (agreeWithBase(i)) 1000L + i else name.hashCode.toLong * 100 + i))
    val all = Set.range(0, 32)
    // band b = components (2b, 2b+1); agree fully on band 0, then one
    // agreement + one disagreement in each of bands 1..15 → 17 agree
    val seventeen = Set(0, 1) ++ (1 to 15).map(_ * 2).toSet
    // one agreement + one disagreement in EVERY band → 16 agree, all broken
    val sixteen = (0 to 15).map(_ * 2).toSet
    val defs = Seq(sig("sBase", all), sig("sDup", all),
      sig("sSeventeen", seventeen), sig("sSixteen", sixteen))
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(StructField("source", StringType) +:
      (0 until 32).map(i => StructField(s"m$i", LongType)))
    val fullDf = spark.createDataFrame(
      spark.sparkContext.parallelize(defs.map { case (n, ms) => Row.fromSeq(n +: ms) }),
      schema)
    val got = TextQueries.tSourceOverlapLshOf(fullDf, bands = 16, minMatch = 17)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    // driver-side exact matrix filtered to >= 17
    val bySrc = defs.toMap
    val srcs = defs.map(_._1).sorted
    val want = (for { a <- srcs; b <- srcs if a < b } yield
      (a, b, bySrc(a).zip(bySrc(b)).count { case (x, y) => x == y }.toLong))
      .filter(_._3 >= 17).toSet
    assert(got == want, s"missed=${want -- got} extra=${got -- want}")
    // the boundary pair was really exercised, and the all-bands-broken
    // sub-threshold pair really excluded
    assert(got.contains(("sBase", "sSeventeen", 17L)))
    assert(got.contains(("sBase", "sDup", 32L)))
    assert(!got.exists(p => p._1 == "sBase" && p._2 == "sSixteen"))
  }

  test("tSourceOverlapLsh hot-bucket cap: cap fires on a degenerate band, " +
      "non-degenerate and identical-signature pairs unchanged") {
    // bands = 16, r = 2 (band b = components 2b, 2b+1), minMatch = 17.
    // ARMY: 6 DISTINCT signatures sharing components 0..17 (pairwise
    // sig_match 18 ≥ 17) — bands 0..8 fully agree, so every band
    // bucket they occupy holds 6 distinct signatures and saturates at
    // cap 4; bands 9..15 are unique per member (no other collisions).
    // PAIR (pX, pY): agree on components 14..31 (sig_match 18) with
    // values disjoint from the army's — their bands 7..15 buckets
    // hold just the two of them.
    // MIRRORS (mA, mB): identical signatures — digest-collapsed, so
    // immune to any cap by construction.
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    def army(i: Int): (String, Seq[Long]) =
      (s"army$i", (0 until 32).map(c =>
        if (c <= 17) 5000L + c else 900000L + i * 100 + c))
    val pairSig: Int => Long = c => 7000L + c
    val px = ("pX", (0 until 32).map(c =>
      if (c >= 14) pairSig(c) else 800001L + c): Seq[Long])
    val py = ("pY", (0 until 32).map(c =>
      if (c >= 14) pairSig(c) else 810001L + c): Seq[Long])
    val mirror = (0 until 32).map(c => 6000L + c): Seq[Long]
    val defs = (0 until 6).map(army) ++ Seq(px, py, ("mA", mirror), ("mB", mirror))
    val schema = StructType(StructField("source", StringType) +:
      (0 until 32).map(i => StructField(s"m$i", LongType)))
    val fullDf = spark.createDataFrame(
      spark.sparkContext.parallelize(defs.map { case (n, ms) => Row.fromSeq(n +: ms) }),
      schema)
    def run(cap: Int) = graft.queries.TextQueries
      .tSourceOverlapLshOf(fullDf, bands = 16, minMatch = 17, maxBucket = cap)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    // exact matrix ≥ 17, driver-side
    val bySrc = defs.toMap
    val srcs = defs.map(_._1).sorted
    val want = (for { a <- srcs; b <- srcs if a < b } yield
      (a, b, bySrc(a).zip(bySrc(b)).count { case (x, y) => x == y }.toLong))
      .filter(_._3 >= 17).toSet
    val armyPairs = want.filter(p => p._1.startsWith("army") && p._2.startsWith("army"))
    assert(armyPairs.size == 15)

    // generous cap: full exactness (the baseline the cap trades from)
    assert(run(256) == want)
    // cap 4 < 6 army members: every band the army agrees on is
    // saturated, so exactly its 15 pairs are lost; the non-degenerate
    // pair and the collapsed identical-signature pair both survive
    val capped = run(4)
    assert(capped == want -- armyPairs,
      s"missed=${(want -- armyPairs) -- capped} extra=${capped -- (want -- armyPairs)}")
    assert(capped.contains(("pX", "pY", 18L)))
    assert(capped.contains(("mA", "mB", 32L)))
  }
}
