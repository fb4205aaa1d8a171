package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.model.TableGroups

class TextAndSimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("packSequences matches a reference fold; offsets contiguous") {
    // docs with 1..6 ws-tokens plus an empty and a blank doc (both
    // excluded from the plan); tiny budget so boundary splits happen
    val docs = Seq(
      (1L, "a"), (2L, "a b"), (3L, "a b c"), (4L, "a b c d"),
      (5L, "a b c d e"), (6L, "a b c d e f"), (7L, ""), (8L, "   "))
      .toDF("doc_id", "text")
    val got = TextOps.packSequences(docs, budget = 4L, nShards = 2)
      .as[(Long, Int, Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6, r._7, r._8))).toMap
    // reference: same hash order, sequential fold per shard
    val ref = (1L to 6L).map { id =>
      val h = graft.functions.H60.hash(s"$id:graft")
      (id, (h % 2).toInt, h, id)
    }.groupBy(_._2).flatMap { case (shard, ds) =>
      var off = 0L
      ds.sortBy(d => (d._3, d._4)).zipWithIndex.map { case (d, i) =>
        val n = d._1 // doc_id == its token count by construction
        val start = off; off += n
        d._1 -> ((shard, i + 1L, n, start, start / 4L, (off - 1) / 4L,
          (off - 1) / 4L - start / 4L + 1L))
      }
    }
    assert(got == ref)
    assert(!got.contains(7L) && !got.contains(8L)) // no empty docs
    // token conservation per shard: last end offset == sum of tokens
    got.values.groupBy(_._1).foreach { case (_, rs) =>
      assert(rs.map(_._3).sum == rs.map(r => r._4 + r._3).max)
    }
  }

  test("tokenStats: counts, empty and multi-space edge cases") {
    val docs = Seq(
      (1L, "a bb  ccc"), (2L, ""), (3L, "   "), (4L, "single"))
      .toDF("doc_id", "text")
    val got = TextOps.tokenStats(docs)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(1L)._3 == 3L)
    assert(got(1L)._4 == 2.0) // (1+2+3)/3
    assert(got(2L)._3 == 0L)
    assert(got(3L)._3 == 0L)
    assert(got(4L)._3 == 1L)
  }

  test("null documents flow through all text/dedup operators as empty") {
    val docs = Seq((1L, Option("real text here with words")),
        (2L, Option.empty[String]))
      .toDF("doc_id", "text")
    val ts = TextOps.tokenStats(docs).as[(Long, Long, Long, Double)]
      .collect().map(r => r._1 -> r).toMap
    assert(ts(2L)._2 == 0L && ts(2L)._3 == 0L && ts(2L)._4 == 0.0)
    val fp = docs.select($"doc_id", TextOps.fingerprint($"text").as("f"))
      .as[(Long, String)].collect().toMap
    assert(fp(2L) != null && fp(2L).nonEmpty) // md5 of "", not null
    val q = TextOps.qualityScore(docs).select("doc_id", "quality")
      .as[(Long, Double)].collect().toMap
    assert(q(2L) == 0.0)
    val groups = Dedup.exactGroups(docs).count()
    assert(groups == 2L)
    val rfp = docs.select(TextOps.rollingFingerprints($"text"))
      .as[Seq[Long]].collect()
    assert(rfp.forall(_ != null))
    val sh = Dedup.simhashFp(docs).as[(Long, Long)].collect().toMap
    assert(sh.contains(2L))
  }

  test("langIdHeuristic flags stopword-dense text as en") {
    val docs = Seq(
      (1L, "the cat sat on the mat and the dog"),
      (2L, "zzz qqq www rrr ttt yyy uuu iii ooo"))
      .toDF("doc_id", "text").withColumn("lang", lit("xx"))
    val got = TextOps.langIdHeuristic(docs)
      .select("doc_id", "guessed_lang").as[(Long, String)].collect().toMap
    assert(got(1L) == "en")
    assert(got(2L) == "other")
  }

  test("qualityScore rewards normal prose, penalizes degenerate text") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (2L, "x"),
      (3L, "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa"))
      .toDF("doc_id", "text")
    val q = TextOps.qualityScore(docs)
      .select("doc_id", "quality").as[(Long, Double)].collect().toMap
    assert(q(1L) == 1.0)
    assert(q(2L) < q(1L))
    assert(q(3L) < q(1L))
  }

  test("fingerprint is whitespace/case-invariant") {
    val df = Seq(Tuple1("a  B\tc"), Tuple1("A B C")).toDF("text")
    val fps = df.select(TextOps.fingerprint($"text")).as[String].collect()
    assert(fps(0) == fps(1))
  }

  test("cosine: identity 1, orthogonal 0, computed in double") {
    val df = Seq((Seq(1.0f, 0.0f), Seq(1.0f, 0.0f), Seq(0.0f, 2.0f)))
      .toDF("a", "b", "c")
    val (same, orth) = df.select(
      Similarity.cosine($"a", $"b"), Similarity.cosine($"a", $"c"))
      .as[(Double, Double)].head()
    assert(math.abs(same - 1.0) < 1e-12)
    assert(math.abs(orth) < 1e-12)
  }

  test("bruteForceTopK ranks nearest first, excludes self, respects k") {
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(0.9f, 0.1f)),
      (2L, Seq(0.0f, 1.0f)), (3L, Seq(-1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.bruteForceTopK(emb, emb.filter($"vec_id" === 0L), 2)
      .orderBy($"rank").as[(Long, Long, Long, Double)].collect()
    assert(got.length == 2)
    assert(got(0)._3 == 1L) // closest direction
    assert(got(1)._3 == 2L)
    assert(got.forall(_._1 == 0L))
  }

  test("sourceMix aggregates per-source composition with exact median") {
    val docs = Seq(
      (1L, "t", "en", "web", 10L), (2L, "t", "de", "web", 30L),
      (3L, "t", "en", "web", 20L), (4L, "t", "en", "books", 100L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = TextOps.sourceMix(docs)
      .as[(String, Long, Long, Double, Double, Long)].collect().toSeq
    assert(got == Seq(
      ("books", 1L, 100L, 100.0, 100.0, 1L),
      ("web", 3L, 60L, 20.0, 20.0, 2L)))
  }

  test("qualityDeciles matches exact ntile semantics without a global sort") {
    val w = org.apache.spark.sql.expressions.Window
    val prose = "the quick brown fox jumps over a lazy dog and it is fine today"
    val docs = (0L until 37L)
      .map(i => (i, if (i % 3 == 0) "short" else prose, "en", "web", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    // rankBucket = 7 forces many id-range buckets, exercising the
    // (quality, bucket) rank decomposition, not just the quality split
    val got = TextOps.qualityDeciles(docs, rankBucket = 7L)
      .as[(Long, Int)].collect().toMap
    val expected = TextOps.qualityScore(docs)
      .select($"doc_id", ntile(10)
        .over(w.orderBy($"quality".desc, $"doc_id")).as("decile"))
      .as[(Long, Int)].collect().toMap
    assert(got == expected)
  }

  test("training-manifest composition: exact dedup, near-dup, gate, shard") {
    val prose = "the quick brown fox jumps over a lazy dog and it is fine today"
    val proseB = prose.replace("today", "tomorrow") // near-dup of prose
    val docs = Seq(
      (1L, prose, "en", "web", prose.length.toLong),
      (2L, prose, "en", "web", prose.length.toLong),     // exact dup of 1
      (3L, proseB + " x", "en", "web", proseB.length + 2L), // near-dup, longer
      (4L, "short", "en", "web", 5L),                    // fails quality gate
      (5L, "a completely different document with plenty of reasonable " +
        "english words in it to pass the quality gate", "en", "web", 104L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val exact = Dedup.exactDedup(docs)
    val comps = Dedup.nearDupComponents(
        Dedup.nearDuplicatePairs(exact, threshold = 0.1))
      .select(col("id").as("doc_id"), col("component"))
    val survivors = Dedup.nearDupSurvivors(comps, exact).select("survivor_id")
    val dropped = comps.join(survivors,
        comps("doc_id") === survivors("survivor_id"), "left_anti")
      .select("doc_id")
    val kept = exact.join(dropped, Seq("doc_id"), "left_anti")
    val gated = kept.join(
      TextOps.qualityScore(kept).filter(col("quality") >= 0.5)
        .select("doc_id"), Seq("doc_id"), "left_semi")
    val manifest = TextOps.shardAssign(gated)
      .select("doc_id").as[Long].collect().toSet
    // 2 drops as an exact dup of 1; {1,3} form a near-dup component and
    // 3 (longer) survives it; 4 fails the quality gate; 5 passes clean
    assert(manifest == Set(3L, 5L))
  }

  test("contamination flags only train docs sharing an 8-gram with heldout") {
    val eight = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      (0L, s"prefix $eight suffix"),            // heldout (0 % 50 == 0)
      (7L, s"other words then $eight and more"), // shares the 8-gram
      (8L, "completely unrelated text with no overlap at all whatsoever"))
      .toDF("doc_id", "text")
    val got = TextOps.contamination(docs, heldoutMod = 50, k = 8)
      .as[(Long, Long)].collect().toMap
    assert(got.keySet == Set(7L))
    assert(got(7L) >= 1L)
  }

  test("ngramNovelty: duplicate doc adds nothing, fresh doc all novel") {
    val prose = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (1L, prose, "en", "web", 10L),
      (2L, prose, "en", "web", 10L),  // exact duplicate: zero novelty
      (3L, "one two three four five six seven eight nine ten", "en", "web", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = TextOps.ngramNovelty(docs, k = 8)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L) == ((3L, 3L))) // 10 tokens -> 3 distinct 8-grams, all first
    assert(got(2L) == ((3L, 0L))) // same grams, doc 1 owns them
    assert(got(3L) == ((3L, 3L)))
  }

  test("shardAssign: deterministic, complete, contiguous positions per shard") {
    val docs = (0L until 100L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val a = TextOps.shardAssign(docs, nShards = 8)
      .as[(Long, Int, Long)].collect().toSeq
    val b = TextOps.shardAssign(docs, nShards = 8)
      .as[(Long, Int, Long)].collect().toSeq
    assert(a == b)                                   // pure function of data
    assert(a.map(_._1).sorted == (0L until 100L))    // every doc placed once
    assert(a.forall(r => r._2 >= 0 && r._2 < 8))
    a.groupBy(_._2).foreach { case (_, rows) =>      // positions 1..n dense
      assert(rows.map(_._3).sorted == (1L to rows.size))
    }
  }

  test("knnLabelAgreement: clustered labels agree, a planted mislabel doesn't") {
    // two tight clusters in 2-D; vec 0 sits in cluster A but is labeled 9
    val emb = (Seq((0L, Seq(1.0f, 0.01f), 9)) ++
        (1L to 6L).map(i => (i, Seq(1.0f, 0.01f * i), 0)) ++
        (7L to 12L).map(i => (i, Seq(0.01f * i, 1.0f), 1)))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.knnLabelAgreement(emb, k = 3, sampleMod = 10)
      .as[(Long, Int, Int, Long)].collect()
      .map { case (id, l, m, n) => id -> ((l, m, n)) }.toMap
    // queries: vec 0 and vec 10 (vec_id % 10 == 0)
    assert(got.keySet == Set(0L, 10L))
    val (l0, m0, n0) = got(0L)
    assert(l0 == 9 && m0 == 0 && n0 == 0L) // mislabel: neighborhood says 0
    val (l10, m10, n10) = got(10L)
    assert(l10 == 1 && m10 == 1 && n10 == 3L) // clean: full agreement
  }

  test("hardNegatives: only label-mismatched neighbors, nearest first") {
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f), 0),   // the query
      (1L, Seq(1.0f, 0.0f), 0),   // identical but SAME label: excluded
      (2L, Seq(0.9f, 0.1f), 1),   // the hard negative (closest, other label)
      (3L, Seq(0.0f, 1.0f), 1),   // easy negative
      (4L, Seq(0.8f, 0.2f), 0))   // same label: excluded
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.hardNegatives(emb, emb.filter($"vec_id" === 0), 2)
      .select($"query_id", $"rank", $"neighbor_id")
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((0L, 1L, 2L), (0L, 2L, 3L)),
      s"same-label vectors must never appear as negatives: $got")
  }

  test("bitextMine: mutual nearest pairs with the ratio margin") {
    // A = {a0=[1,0], a2=[0,1]}, B = {b1=[1,.1], b3=[.1,1], b5=[.7,.7]}:
    // forward bests a0->b1, a2->b3; both mutual; b5 is nobody's best.
    val a = Seq((0L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val b = Seq((1L, Seq(1.0f, 0.1f)), (3L, Seq(0.1f, 1.0f)),
      (5L, Seq(0.7f, 0.7f))).toDF("vec_id", "embedding")
    val got = Similarity.bitextMine(a, b, k = 2)
      .as[(Long, Long, Double, Double)].collect().toSeq
    assert(got.map(r => (r._1, r._2)) == Seq((0L, 1L), (2L, 3L)), s"$got")
    // margin(0,1) = cos(a0,b1) / ((mean top-2 of a0 + mean top-2 of b1)/2)
    //             = .995037 / ((.851075 + .547272) / 2) = 1.4232
    got.foreach { r =>
      assert(math.abs(r._3 - 0.995) < 5e-4, s"sim: $r")
      assert(math.abs(r._4 - 1.4232) < 5e-4, s"margin: $r")
    }
  }

  test("vector expressions match the higher-order formulation bit-exactly") {
    // the codegen loop must reproduce aggregate(zip_with(...)) exactly
    // (same element order, double accumulation) — the oracle depends on it
    val df = Seq(
      (Seq(0.1f, -2.5f, 3.75f, 0.004f), Seq(1.5f, 0.25f, -0.125f, 9.0f)))
      .toDF("a", "b")
    val hofDot = aggregate(zip_with($"a", $"b",
      (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)
    val hofCos = hofDot / (sqrt(aggregate(zip_with($"a", $"a",
      (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)) * sqrt(aggregate(zip_with($"b", $"b",
      (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)))
    val (gotDot, wantDot, gotCos, wantCos) = df.select(
      Similarity.dot($"a", $"b"), hofDot,
      Similarity.cosine($"a", $"b"), hofCos)
      .as[(Double, Double, Double, Double)].head()
    assert(gotDot == wantDot)
    assert(gotCos == wantCos)
  }

  test("srp plane components are reproducible from plain Scala") {
    // the oracle embeds VectorExpressions.planeMatrix literals — every
    // component must be on the k/1e6 - 1 lattice in [-1, 1)
    val m = graft.functions.VectorExpressions.planeMatrix(8, 64)
    assert(m.length == 8 && m.forall(_.length == 64))
    assert(m.flatten.forall(c => c >= -1.0 && c < 1.0))
    assert(m.flatten.forall(c =>
      math.abs((c + 1.0) * 1000000.0 - math.rint((c + 1.0) * 1000000.0)) < 1e-3))
  }

  test("srp bucket: identical vectors share a bucket") {
    val emb = Seq((0L, Seq(1.0f, 2.0f, 3.0f)), (1L, Seq(1.0f, 2.0f, 3.0f)))
      .toDF("vec_id", "embedding")
    val buckets = emb.select(Similarity.srpBucket($"embedding", 8))
      .as[Long].collect()
    assert(buckets(0) == buckets(1))
  }

  test("adaptivePlanes holds expected bucket occupancy as corpus grows") {
    // floor of 8 for small corpora (the legacy default)
    assert(Similarity.adaptivePlanes(0L) == 8)
    assert(Similarity.adaptivePlanes(10000L) == 8)
    // 2^planes ≈ n / targetBucketSize once past the floor
    assert(Similarity.adaptivePlanes(1000000L) == 14)      // 15625 buckets
    assert(Similarity.adaptivePlanes(1L << 40) == 34)      // 2^34 buckets
    // monotonic in corpus size; capped at 62 (bucket id stays a long)
    val sizes = (10 to 62).map(b => Similarity.adaptivePlanes(1L << b))
    assert(sizes == sizes.sorted)
    assert(Similarity.adaptivePlanes(Long.MaxValue, 1) == 62)
    // the auto variant agrees with the explicit form at the small floor
    val emb = (0L until 20L)
      .map(i => (i, Seq.tabulate(4)(d => (i * 4 + d).toFloat)))
      .toDF("vec_id", "embedding")
    val a = Similarity.lshNearDupPairsAuto(emb, 0.9).collect().toSet
    val b = Similarity.lshNearDupPairs(emb, 0.9, 8).collect().toSet
    assert(a == b)
  }

  test("rareBigrams: shared bigram not rare, singletons are") {
    val docs = Seq(
      (1L, "a b c"), (2L, "a b d"), (3L, "a b e"))
      .toDF("doc_id", "text")
    val got = TextOps.rareBigrams(docs, minDf = 3)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // every doc has 2 distinct bigrams; "a b" appears in all 3 docs
    // (df=3, not rare at minDf=3), the second bigram is unique (df=1)
    assert(got == Map(1L -> ((2L, 1L)), 2L -> ((2L, 1L)), 3L -> ((2L, 1L))))
  }

  test("sourceOverlap: counts distinct shared 3-grams per source pair") {
    val docs = Seq(
      (1L, "one two three four", "web"),
      (2L, "two three four five", "web"),   // dup gram within web: no self-pair
      (3L, "two three four six", "books"),
      (4L, "totally different words entirely", "wiki"))
      .toDF("doc_id", "text", "source")
    val got = TextOps.sourceOverlap(docs)
      .as[(String, String, Long)].collect()
      .map { case (a, b, n) => (a, b) -> n }.toMap
    // web ∩ books = {"two three four"}; wiki shares nothing → absent
    assert(got.keySet == Set(("books", "web")) && got(("books", "web")) == 1L)
  }

  test("sourceOverlap drops stop-grams above the source-df cap") {
    val shared = "one two three"
    val docs = Seq(
      (1L, s"$shared alpha beta gamma", "a"),
      (2L, s"$shared alpha beta gamma", "b"),
      (3L, shared, "c"))
      .toDF("doc_id", "text", "source")
    // "one two three" has source-df 3; cap 2 removes it, leaving the
    // grams a and b share through "alpha beta gamma"
    val capped = TextOps.sourceOverlap(docs, maxSourceDf = 2)
      .as[(String, String, Long)].collect()
      .map { case (x, y, n) => (x, y) -> n }.toMap
    assert(capped.keySet == Set(("a", "b")))
    val uncapped = TextOps.sourceOverlap(docs)
      .as[(String, String, Long)].collect()
    assert(uncapped.length == 3) // all pairs share the ubiquitous gram
  }

  test("chunkSplit: overlapping windows cover every token") {
    val words = (1 to 40).map(i => s"w$i")
    val docs = Seq((1L, words.mkString(" ")), (2L, ""), (3L, "a b"))
      .toDF("doc_id", "text")
    val got = TextOps.chunkSplit(docs, size = 32, stride = 16)
      .as[(Long, Long, Long, String)].collect()
    val d1 = got.filter(_._1 == 1L).sortBy(_._2)
    // starts 0,16,32 -> window sizes 32, 24 (17..40), 8 (33..40)
    assert(d1.map(r => (r._2, r._3)).toSeq == Seq((0L, 32L), (1L, 24L), (2L, 8L)))
    assert(d1.map(_._4).distinct.length == 3) // distinct content hashes
    assert(!got.exists(_._1 == 2L))           // empty doc dropped
    assert(got.filter(_._1 == 3L).map(r => (r._2, r._3)).toSeq == Seq((0L, 2L)))
  }

  test("topTerms ranks by tf/df with term tie-break") {
    val docs = Seq(
      (1L, "apple apple banana common"),
      (2L, "banana cherry common"),
      (3L, "common common date"))
      .toDF("doc_id", "text")
    val got = TextOps.topTerms(docs, k = 3)
      .as[(Long, String, Long, Long, Long)].collect()
      .groupBy(_._1).map { case (d, rs) =>
        d -> rs.sortBy(_._5).map(r => (r._2, r._3, r._4)).toSeq }
    // df: apple 1, banana 2, cherry 1, common 3, date 1
    assert(got(1L) == Seq(("apple", 2L, 1L), ("banana", 1L, 2L),
      ("common", 1L, 3L)))
    assert(got(3L).head == (("date", 1L, 1L))) // 1/1 beats common's 2/3
  }

  test("diversity: exact Simpson indexes at char and token level") {
    val docs = Seq((1L, "aa bb"), (2L, "xxxx")).toDF("doc_id", "text")
    val got = TextOps.diversity(docs)
      .as[(Long, Long, Long, Double, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    // "aa bb": chars a:2 b:2 ' ':1 -> 1 - 9/25; tokens aa,bb -> 1 - 2/4
    assert(got(1L) == ((1L, 5L, 3L, 1.0 - 9.0 / 25.0, 2L, 2L, 0.5)))
    // "xxxx": single char class and single token -> zero diversity
    assert(got(2L) == ((2L, 4L, 1L, 0.0, 1L, 1L, 0.0)))
  }

  test("sourceTemperature: sqrt-weighted shares on the integer lattice") {
    val eight = "t1 t2 t3 t4 t5 t6 t7 t8"
    val docs = Seq(
      (1L, eight, "s1"), (2L, eight, "s1"),     // 16 tokens -> sqrt = 4
      (3L, "t1 t2 t3 t4", "s2"))                // 4 tokens  -> sqrt = 2
      .toDF("doc_id", "text", "source")
    val got = TextOps.sourceTemperature(docs)
      .as[(String, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(got("s1") == (("s1", 2L, 16L, 4L * 1048576, 666666L, 6666666L)))
    assert(got("s2") == (("s2", 1L, 4L, 2L * 1048576, 333333L, 3333333L)))
  }

  test("centroidOutliers: planted far vector ranks first, exact lattice") {
    val emb = Seq(
      (1L, Seq(1.0f, 0.0f), 0), (2L, Seq(1.0f, 0.0f), 0),
      (3L, Seq(1.0f, 0.0f), 0), (9L, Seq(-1.0f, 0.0f), 0))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.centroidOutliers(emb)
      .as[(Long, Int, Long, Long, Long)].collect().sortBy(_._5)
    // dim0 sums: S = 3*1024 - 1024 = 2048, n = 4
    // outlier term: (-4096 - 2048)^2 ; inlier: (4096 - 2048)^2
    assert(got.head == ((9L, 0, 6144L * 6144L, 4L, 1)))
    assert(got(1) == ((1L, 0, 2048L * 2048L, 4L, 2))) // tie -> vec_id order
    assert(got.map(_._1).toSeq == Seq(9L, 1L, 2L, 3L))
  }

  test("dupSpans: repeated 8-token span is flagged in both docs, rest not") {
    // docs 1 and 2 share tokens 1..8 ("a b c d e f g h"); doc 3 is
    // disjoint; doc 4 is too short for any span
    val docs = Seq(
      (1L, "a b c d e f g h x y"),
      (2L, "a b c d e f g h z"),
      (3L, "p q r s t u v w"),
      (4L, "too short"))
      .toDF("doc_id", "text")
    val got = TextOps.dupSpans(docs, window = 8)
      .as[(Long, Long, Long, Long)].collect().toSeq
    // doc 1: 3 spans (starts 1,2,3), only start-1 is shared
    // doc 2: 2 spans, only start-1 shared; doc 3: 1 span, unshared
    assert(got == Seq(
      (1L, 3L, 1L, 333333L),
      (2L, 2L, 1L, 500000L),
      (3L, 1L, 0L, 0L)))
  }

  test("dupSpanRuns: chained runs measure a shared region longer than the window") {
    // docs 1 and 2 share a 12-token region (tokens 1..12 of doc 1 =
    // tokens 1..12 of doc 2) -> 5 consecutive duplicated span starts
    // (1..5) chain into ONE run of span_tokens = 5 + 7 = 12; doc 1
    // also shares a separate 8-token region with doc 3 at start 16
    val shared12 = "a b c d e f g h i j k l"
    val shared8 = "m n o p q r s t"
    val docs = Seq(
      (1L, s"$shared12 x y z $shared8"),
      (2L, s"$shared12 q0 q1"),
      (3L, s"w0 w1 $shared8 w2"),
      (4L, "u0 u1 u2 u3 u4 u5 u6 u7 u8"))
      .toDF("doc_id", "text")
    val got = TextOps.dupSpanRuns(docs, window = 8)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    // doc 1: runs at starts 1..5 (12 tokens) and 16 (8 tokens);
    // doc 2: one run, starts 1..5; doc 3: one run at start 3;
    // doc 4: no duplicated span -> absent
    assert(got == Seq(
      (1L, 2L, 12L, 1L, 20L),
      (2L, 1L, 12L, 1L, 12L),
      (3L, 1L, 8L, 3L, 8L)))
  }

  test("dupSpanRuns longest_start picks the earliest among equal-length runs") {
    // doc 1 shares two DISJOINT 8-token regions with docs 2 and 3 ->
    // two runs of equal span_tokens=8; longest_start must be the
    // earlier one (start 1), and dupSpans' doc rollup still agrees
    val r1 = "a b c d e f g h"
    val r2 = "p q r s t u v w"
    val docs = Seq(
      (1L, s"$r1 gap1 $r2"),
      (2L, s"x0 $r1 x1"),
      (3L, s"y0 y1 $r2"))
      .toDF("doc_id", "text")
    val got = TextOps.dupSpanRuns(docs, window = 8)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got.head == ((1L, 2L, 8L, 1L, 16L)))
  }

  test("contaminationFuzzy catches a 1-edit near-verbatim benchmark line") {
    // held doc 50: a 20-token benchmark line (17 4-gram shingles).
    // train doc 1 embeds it with ONE token edited (india -> indiana)
    // plus case/punctuation drift: the edit kills at most 4 shingles,
    // 13 of 17 survive >= 17 - 4*2 = 9 -> caught. train doc 2 shares
    // only 6 consecutive tokens (3 shingles < 9, distant prefix) ->
    // not flagged. train doc 3 is unrelated -> no candidate at all.
    val line = "alpha bravo charlie delta echo foxtrot golf hotel india " +
      "juliet kilo lima mike november oscar papa quebec romeo sierra tango"
    val edited = "Alpha bravo, charlie delta; echo foxtrot golf hotel " +
      "indiana juliet kilo lima mike november oscar papa quebec romeo " +
      "sierra tango."
    val docs = Seq(
      (50L, line),
      (1L, edited),
      (2L, "zulu yankee xray golf hotel india juliet kilo lima whiskey " +
        "victor uniform tree stone river mountain lake forest desert"),
      (3L, "one two three four five six seven eight nine ten eleven"))
      .toDF("doc_id", "text")
    val got = TextOps.contaminationFuzzy(docs)
      .select(col("train_id"), col("held_id"), col("n_shared"),
        col("n_held"))
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 50L, 13L, 17L)))
  }

  test("contaminationFuzzy short held line: length-matched prefix catches, 1-gram doesn't flood") {
    // held doc 100: a 6-token line (3 shingles). Train 1 embeds it
    // 1-edited at its start: the budget branch is off (majority floor
    // needs 2 of 3 shingles; only 1 survives the edit) but the
    // LENGTH-MATCHED prefix compare sees ~3 edits -> caught. Train 3
    // shares exactly one 4-gram mid-doc with a distant prefix — the
    // review-r8 false-positive scenario — and must NOT be flagged.
    val docs = Seq(
      (100L, "the quick brown fox jumps high"),
      (1L, "the quick brown fox jumped high and ran away into the woods"),
      (2L, "completely unrelated content about something else entirely"),
      (3L, "zz yy xx the quick brown fox ww vv uu tt ss"))
      .toDF("doc_id", "text")
    val got = TextOps.contaminationFuzzy(docs, heldoutMod = 50)
      .select(col("train_id"), col("held_id")).as[(Long, Long)]
      .collect().toSeq
    assert(got == Seq((1L, 100L)))
  }

  test("bpeLearn replays the hand-computed merge sequence with smallest-pair ties") {
    // vocab: "low"(1), " low"(1), " lower"(1) — char pairs:
    // (l,o)=3, (o,w)=3, (' ',l)=2, (w,e)=1, (e,r)=1
    // r1: tie at 3 -> lex smallest (l,o) -> "lo"
    // r2: (lo,w)=3 -> "low";  r3: (' ',low)=2 -> " low"
    // r4: tie at 1 -> (" low",e) < (e,r) -> " lowe"
    val docs = Seq((1L, "low low lower")).toDF("doc_id", "text")
    val got = TextOps.bpeLearn(docs, merges = 4)
      .as[(Long, String, String, String, Long)].collect().toSeq
    assert(got == Seq(
      (1L, "l", "o", "lo", 3L),
      (2L, "lo", "w", "low", 3L),
      (3L, " ", "low", " low", 2L),
      (4L, " low", "e", " lowe", 1L)))
  }

  test("bpeLearn greedy replace is non-overlapping left-to-right (aaaa -> aa aa)") {
    // "aaaa" vocab: pairs (a,a)=3 -> merge (a,a); applying it greedily
    // must segment "aaaa" as (aa)(aa), so round 2's top pair is
    // (aa,aa)=1 — an overlap bug would leave (aa,a) instead
    val docs = Seq((1L, "aaaa")).toDF("doc_id", "text")
    val got = TextOps.bpeLearn(docs, merges = 2)
      .as[(Long, String, String, String, Long)].collect().toSeq
    assert(got == Seq(
      (1L, "a", "a", "aa", 3L),
      (2L, "aa", "aa", "aaaa", 1L)))
  }

  test("bpeLearn merge matches whole symbols only (r8 advisory: [v, er] under (v,e))") {
    // vocab: era(6), ve(5), ver(1).
    // r1: (e,r)=7 -> "er"; ver becomes [v, er], ve stays [v, e]
    // r2: (er,a)=6 -> "era"
    // r3: (v,e)=5 -> "ve" — must NOT touch ver's [v, er]: with
    //     prefix-only sentinels the pattern \x01v\x01e matched inside
    //     \x01v\x01er and corrupted it to the single symbol "ver",
    //     silently absorbing round 4's true (v, er) pair
    // r4: (v,er)=1 -> "ver" — only exists if r3 left [v, er] intact
    val docs = ((1 to 6).map(i => (i.toLong, "era")) ++
      (7 to 11).map(i => (i.toLong, "ve")) ++ Seq((12L, "ver")))
      .toDF("doc_id", "text")
    val got = TextOps.bpeLearn(docs, merges = 4)
      .as[(Long, String, String, String, Long)].collect().toSeq
    assert(got == Seq(
      (1L, "e", "r", "er", 7L),
      (2L, "er", "a", "era", 6L),
      (3L, "v", "e", "ve", 5L),
      (4L, "v", "er", "ver", 1L)))
  }

  test("bpeLearn at pair exhaustion: fixpoint, not annihilation") {
    // "ab ab": one vocab word; round 1 merges (a,b), round 2+ have NO
    // pairs — the empty top-1 must leave the vocab unchanged (review
    // r8: a crossJoin here silently emptied everything downstream)
    val docs = Seq((1L, "ab ab")).toDF("doc_id", "text")
    val merges = TextOps.bpeLearn(docs, merges = 4)
      .as[(Long, String, String, String, Long)].collect().toSeq
    // vocab words: "ab"(1), " ab"(1): pairs (a,b)=2, (' ',a)=1
    // r1: (a,b)->"ab" (cnt 2); r2: (' ',ab)->" ab" (cnt 1); r3+: none
    assert(merges == Seq(
      (1L, "a", "b", "ab", 2L),
      (2L, " ", "ab", " ab", 1L)))
    val fert = TextOps.bpeFertility(docs, merges = 4)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    // both words fully merged to 1 symbol each; chars 2+3=5
    assert(fert == Seq((2L, 2L, 5L, 2L, 1000000L, 400000L)))
    val enc = TextOps.bpeEncode(docs, merges = 4)
      .as[(Long, Long, Long)].collect().toSeq
    assert(enc == Seq((1L, 2L, 2L)))
  }

  test("bpeFertility re-scores the corpus under the learned merges") {
    val docs = Seq((1L, "low low lower")).toDF("doc_id", "text")
    val got = TextOps.bpeFertility(docs, merges = 4)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    // after 4 merges: "low"->[low] 1 sym, " low"->[" low"] 1,
    // " lower"->[" lowe", r] 2; chars 3+4+6=13, symbols 4
    assert(got == Seq((3L, 3L, 13L, 4L, 1333333L, 307692L)))
  }

  test("dupSpanPairs chains the longest common region per pair on the diagonal") {
    // docs 1 and 2 share a 12-token region at different offsets
    // (doc 1: tokens 1..12; doc 2: tokens 3..14) -> one diagonal run,
    // span 12, starts (1, 3); docs 1 and 3 share an 8-token region
    val r12 = "a b c d e f g h i j k l"
    val r8 = "m n o p q r s t"
    val docs = Seq(
      (1L, s"$r12 x y $r8"),
      (2L, s"w0 w1 $r12 w2"),
      (3L, s"v0 $r8 v1 v2"))
      .toDF("doc_id", "text")
    val got = TextOps.dupSpanPairs(docs, window = 8)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, 2L, 1L, 12L, 1L, 3L, 12L),
      (1L, 3L, 1L, 8L, 15L, 2L, 8L)))
  }

  test("dupSpanPairs tie-break includes start_b when equal runs share start_a") {
    // doc 1's single 8-token region appears TWICE in doc 2 (offsets 2
    // and 11) -> two equal-length runs with the same s_a=1; the packed
    // key must pick the smaller s_b deterministically
    val r8 = "a b c d e f g h"
    val docs = Seq(
      (1L, r8),
      (2L, s"z0 $r8 z1 $r8 z2"))
      .toDF("doc_id", "text")
    val got = TextOps.dupSpanPairs(docs, window = 8)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L, 2L, 8L, 1L, 2L, 16L)))
  }

  test("bpeEncode counts per-doc tokens under the learned segmentation") {
    // same corpus as the trainer spec: after 4 merges "low" -> [low],
    // " low" -> [" low"], " lower" -> [" lowe", r]; doc 1 has all
    // three words -> 3 words, 4 tokens; doc 2 repeats "low low" ->
    // words ["low", " low"] -> 2 words, 2 tokens
    val docs = Seq((1L, "low low lower"), (2L, "low low"))
      .toDF("doc_id", "text")
    val got = TextOps.bpeEncode(docs, merges = 4)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 3L, 4L), (2L, 2L, 2L)))
  }

  test("packSequencesBpe packs with learned-tokenizer budgets") {
    // same trained corpus: doc 1 -> 4 BPE tokens, doc 2 -> 2; packing
    // must consume exactly bpeEncode's counts (whitespace would say
    // 3 and 2) and conserve tokens within each shard
    val docs = Seq((1L, "low low lower"), (2L, "low low"))
      .toDF("doc_id", "text")
    val enc = TextOps.bpeEncode(docs, merges = 4)
      .select(col("doc_id"), col("n_tokens"))
      .as[(Long, Long)].collect().toMap
    // the n_tokens column in the packing plan IS the learned count
    val packed = TextOps.packSequencesBpe(docs, merges = 4, budget = 3L)
      .select(col("doc_id"), col("n_tokens")).as[(Long, Long)]
      .collect().toMap
    assert(packed == enc && enc == Map(1L -> 4L, 2L -> 2L))
  }

  test("bpeTrain serves the learned tokenizer: batch == trained encode, OOV segments, stream == batch") {
    // the era/ve/ver corpus (merge table spec-pinned above): training
    // collects the 4 merges once; serving is a pure projection
    val corpus = ((1 to 6).map(i => (i.toLong, "era")) ++
      (7 to 11).map(i => (i.toLong, "ve")) ++ Seq((12L, "ver")))
      .toDF("doc_id", "text")
    val model = TextOps.bpeTrain(corpus, rounds = 4)
    assert(model.merges ==
      Seq(("e", "r"), ("er", "a"), ("v", "e"), ("v", "er")))
    // in-training docs: serving == the hash-gated trainer-side encode
    val trained = TextOps.bpeEncode(corpus, merges = 4)
      .as[(Long, Long, Long)].collect().toSet
    val served = TextOps.bpeEncodeWith(corpus, model)
      .as[(Long, Long, Long)].collect().toSet
    assert(served == trained)
    // an ARRIVING doc with an out-of-vocab word: "verve" folds
    // [v,e,r,v,e] -(e,r)-> [v,er,v,e] -(v,e)-> [v,er,ve]
    // -(v,er)-> [ver,ve] = 2 tokens; " era" -> [" ",era] = 2
    val oov = Seq((100L, "verve era")).toDF("doc_id", "text")
    assert(TextOps.bpeEncodeWith(oov, model)
      .as[(Long, Long, Long)].collect().toSeq == Seq((100L, 2L, 4L)))
    // ingest path: per-micro-batch encoding inside foreachBatch equals
    // the batch pass (r8 verdict item 7 — the NbModel serving twin)
    val all = corpus.union(oov)
    val want = TextOps.bpeEncodeWith(all, model)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)](spark)
    val got = scala.collection.mutable.Map[Long, (Long, Long, Long)]()
    val q = input.toDF().toDF("doc_id", "text")
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[_], _: Long) =>
        TextOps.bpeEncodeWith(b.toDF(), model)
          .as[(Long, Long, Long)].collect()
          .foreach(r => got.synchronized { got(r._1) = r })
        ()
      }.start()
    try {
      val rows = all.as[(Long, String)].collect().toSeq
      rows.grouped(5).foreach { g =>
        input.addData(g: _*); q.processAllAvailable()
      }
      assert(got.toMap == want,
        "per-micro-batch encoding must equal batch encoding")
    } finally q.stop()
  }

  test("bpeTrainTopK replays the distributed trainer merge-for-merge") {
    // differential gate for the driver-side Sennrich loop: identical
    // merge tables to the oracle-replayable distributed loop whenever
    // vocabTopK covers the vocab — on the pinned era/ve/ver corpus and
    // on real sf0.001 documents
    val corpus = ((1 to 6).map(i => (i.toLong, "era")) ++
      (7 to 11).map(i => (i.toLong, "ve")) ++ Seq((12L, "ver")))
      .toDF("doc_id", "text")
    assert(TextOps.bpeTrainTopK(corpus, rounds = 4).merges ==
      Seq(("e", "r"), ("er", "a"), ("v", "e"), ("v", "er")))
    val docs = graft.sources.ChangeLogSource
      .table(spark, "/root/testdata/sf0.001", "documents")
    assert(TextOps.bpeTrainTopK(docs, rounds = 8).merges ==
      TextOps.bpeTrain(docs, rounds = 8).merges,
      "in-memory trainer must equal the distributed loop at 8 rounds")
    // fixpoint semantics match too: a corpus exhausting its pairs
    // early yields the short merge table, not an error (pre-tokens of
    // "ab ab" are ["ab", " ab"] — GPT-2-style leading space)
    val tiny = Seq((1L, "ab ab")).toDF("doc_id", "text")
    assert(TextOps.bpeTrainTopK(tiny, rounds = 10).merges ==
      Seq(("a", "b"), (" ", "ab")))
  }

  test("heap-indexed trainer loop is merge-identical to the linear scan") {
    // the lazy max-heap argmax (bpeMergesInMemoryIndexed) must replay
    // bpeMergesInMemory bit-for-bit, ties included — on a synthetic
    // vocab with many deliberate count ties and multi-byte chars
    def word(i: Int): String =
      (0 until 5).map(d => "abвгд!".charAt((i / math.pow(5, d).toInt) % 6))
        .mkString
    val vocab = (0 until 800)
      .map(i => (word(i), (i % 7 + 1).toLong)).toArray
    for (rounds <- Seq(1, 7, 40, 400)) {
      val lin = TextOps.bpeMergesInMemory(vocab, rounds)
      val idx = TextOps.bpeMergesInMemoryIndexed(vocab, rounds)
      assert(idx == lin, s"rounds=$rounds: indexed diverged")
    }
    // exhaustion: both stop at the same fixpoint
    val tiny = Array(("aa", 3L), ("bb", 2L))
    assert(TextOps.bpeMergesInMemoryIndexed(tiny, 10) ==
      TextOps.bpeMergesInMemory(tiny, 10))
  }

  test("a >=1k-merge model trains and serves through the partition-local path") {
    // r9 verdict item 2: the 64-merge codegen ceiling must not be the
    // tokenizer's ceiling. 2000 distinct 8-char words: exhaustion
    // requires a distinct full-word merge per word, so >=2000 rounds
    // are sustainable by construction.
    def word(i: Int): String =
      (0 until 8).map(d => ('a' + (i / math.pow(7, d).toInt) % 7).toChar)
        .mkString
    val n = 2000
    val corpus = (0 until n).map(i =>
      (i.toLong, s"${word(i)} ${word((i * 7) % n)} ${word((i * 13) % n)}"))
      .toDF("doc_id", "text")
    val model = TextOps.bpeTrainTopK(corpus, rounds = 1200)
    assert(model.merges.size == 1200,
      s"corpus must sustain 1200 merges, got ${model.merges.size}")
    // the dispatch routes past-64-merge models to the local path, and
    // its counts agree with the trained vocab's own segmentation
    val served = TextOps.bpeEncodeWith(corpus, model)
      .as[(Long, Long, Long)].collect().map { case (d, w, t) => d -> ((w, t)) }.toMap
    assert(served.size == n && served.values.forall(_._1 == 3L))
    // more merges can only compress: 1200-merge counts <= 64-merge
    val small = TextOps.BpeModel(model.merges.take(64))
    val under64 = TextOps.bpeEncodeWithFold(corpus, small)
      .as[(Long, Long, Long)].collect().map { case (d, _, t) => d -> t }.toMap
    assert(served.forall { case (d, (_, t)) => t <= under64(d) })
    // fold ≡ local on the same (<=64-merge) model — the two serving
    // paths are interchangeable where both can run
    val viaLocal = TextOps.bpeEncodeWithLocal(corpus, small)
      .as[(Long, Long, Long)].collect().map { case (d, w, t) => d -> ((w, t)) }.toMap
    val viaFold = TextOps.bpeEncodeWithFold(corpus, small)
      .as[(Long, Long, Long)].collect().map { case (d, w, t) => d -> ((w, t)) }.toMap
    assert(viaLocal == viaFold)
    // stream ≡ batch under the big model (foreachBatch ingest twin)
    val want = TextOps.bpeEncodeWith(corpus, model)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)](spark)
    val got = scala.collection.mutable.Map[Long, (Long, Long, Long)]()
    val q = input.toDF().toDF("doc_id", "text")
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[_], _: Long) =>
        TextOps.bpeEncodeWith(b.toDF(), model)
          .as[(Long, Long, Long)].collect()
          .foreach(r => got.synchronized { got(r._1) = r })
        ()
      }.start()
    try {
      corpus.as[(Long, String)].collect().grouped(500).foreach { g =>
        input.addData(g.toSeq: _*); q.processAllAvailable()
      }
      assert(got.toMap == want,
        "per-micro-batch big-model encoding must equal batch")
    } finally q.stop()
  }

  test("filterAblation separates marginal removal from overlapping removal") {
    val long30 = "abcdefghijklmnopqrstuvwxyzabcd" // 30-char token
    val docs = Seq(
      // 1: passes all four gates
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      // 3: >= 10 words, sane lengths, ZERO stopwords -> fails ONLY
      //    stopword_ratio
      (3L, "zebra quokka wombat falcon marmot gecko heron bison otter lynx puma"),
      // 4: 3 stopwords + 9 thirty-char tokens: avg (9+270)/12 = 23.25
      //    -> fails ONLY avg_token_len (ratio 0.25 passes)
      (4L, ("the the the " + Seq.fill(9)(long30).mkString(" "))),
      // 5: 11 chars, 3 words -> fails len_chars AND n_words (neither
      //    is marginal: the other gate also fails)
      (5L, "the cat sat"))
      .toDF("doc_id", "text")
    val got = TextOps.filterAblation(docs)
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      ("avg_token_len", 1L, 1L, 250000L, 250000L),
      ("len_chars", 1L, 0L, 250000L, 0L),
      ("n_words", 1L, 0L, 250000L, 0L),
      ("stopword_ratio", 1L, 1L, 250000L, 250000L)), s"$got")
  }

  test("packEfficiency prices per-shard tail padding exactly") {
    // nShards=1 removes hash placement: 3 + 2 = 5 tokens in one shard;
    // the empty doc contributes nothing (the packSequences filter)
    val docs = Seq((1L, "a b c"), (2L, "d e"), (3L, ""))
      .toDF("doc_id", "text")
    val got = TextOps.packEfficiency(docs, budgets = Seq(2L, 4L),
        nShards = 1)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (2L, 5L, 3L, 166666L),  // 3 seqs x 2 slots, 1 pad / 6
      (4L, 5L, 2L, 375000L)), // 2 seqs x 4 slots, 3 pad / 8
      s"$got")
  }

  test("repetitionProfile flags the degenerate loop, not the varied doc") {
    // doc 1 "a b a b a b": 2-grams (ab, ba, ab, ba, ab) -> n=5,
    // max=3 -> top2_ppm=600000; 4-grams (abab, baba, abab) -> n=3,
    // dup (abab x2) -> dup4_ppm=666666. doc 2: all-distinct grams.
    // doc 3: 3 tokens -> bigrams only, 4-gram columns are 0.
    val docs = Seq(
      (1L, "a b a b a b"),
      (2L, "v w x y z"),
      (3L, "p q p"))
      .toDF("doc_id", "text")
    val got = TextOps.repetitionProfile(docs)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, 5L, 600000L, 3L, 666666L),
      (2L, 4L, 250000L, 2L, 0L),
      (3L, 2L, 500000L, 0L, 0L)))
  }

  test("unigramSurprisal: integer floor-log2 bits under corpus counts") {
    // counts: a=3, b=1, c=1, N=5; bits(a)=len(bin(5 div 3))-1=0,
    // bits(b)=bits(c)=len(bin(5))-1=2
    val docs = Seq((1L, "a a b"), (2L, "a c")).toDF("doc_id", "text")
    val got = TextOps.unigramSurprisal(docs)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 3L, 2L, 666666L), (2L, 2L, 2L, 1000000L)))
  }

  test("round-5 operators tolerate empty input without throwing") {
    val docs0 = Seq.empty[(Long, String, String, String)]
      .toDF("doc_id", "text", "lang", "source")
    val edges0 = Seq.empty[(Long, Long)].toDF("src", "dst")
    val emb0 = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    assert(TextOps.knBigramCounts(docs0).count() == 0)
    assert(TextOps.dsirScores(docs0, $"source" === "x").count() == 0)
    assert(TextOps.tokenizerFertility(docs0).count() == 0)
    assert(Graph.triangleStats(edges0).count() == 0)
    assert(Similarity.pqTopK(emb0, emb0, 5).count() == 0)
  }

  test("round-6 operators tolerate empty input without throwing") {
    val docs0 = Seq.empty[(Long, String, String, String)]
      .toDF("doc_id", "text", "lang", "source")
    val edges0 = Seq.empty[(Long, Long)].toDF("src", "dst")
    val wedges0 = Seq.empty[(Long, Long, Long)].toDF("src", "dst", "shared")
    val ev0 = Seq.empty[(Long, Long, String, java.sql.Timestamp, Double)]
      .toDF("event_id", "user_id", "event_type", "ts", "value")
    val rel0 = Seq.empty[(String, Long)].toDF("g", "item")
    assert(Graph.kCore(edges0).count() == 0)
    assert(Graph.linkPrediction(edges0).count() == 0)
    assert(Graph.topKNeighbors(wedges0).count() == 0)
    assert(Graph.cooccurrenceEdges(rel0, $"g", $"item").count() == 0)
    assert(Dedup.jaccardThresholdSweep(docs0).count() == 0)
    assert(Dedup.minhashAccuracy(docs0).count() == 0)
    assert(graft.operators.TimeSeries.cusumChangepoints(ev0).count() == 0)
    assert(graft.operators.TimeSeries.gapFillLocf(ev0, 0L, 4, 1000L)
      .count() == 0)
    assert(graft.operators.Sketches.quantileBounds(ev0).count() == 0)
    // AMS on empty tables: defined zero estimate, null (not NaN) error
    val ams = graft.operators.Sketches.amsJoinSize(
        Seq.empty[Long].toDF("k"), "k", Seq.empty[Long].toDF("k"), "k")
      .selectExpr("cast(exact_size as long)", "ams_estimate", "err_ppm")
      .as[(Long, Long, Option[Long])].head()
    assert(ams == ((0L, 0L, None)))
    assert(graft.operators.CdcOps.stateDwell(ev0, lit(true)).count() == 0)
    assert(graft.operators.CdcOps.pitEnrich(ev0, lit(true), lit(false))
      .count() == 0)
  }

  test("dsirScores: exact integer scores; target-like docs outrank") {
    // every token has corpus count 5 of nq=20 -> bits_q = 2 for all;
    // target (np=7, v=4): bits_p(alpha)=bits_p(beta)=1,
    // bits_p(gamma)=bits_p(delta)=floor(log2(11/1))=3, so each
    // target-vocab occurrence is +1 and each off-domain one is -1
    val docs = Seq(
      (1L, "alpha beta alpha beta", "t"),
      (2L, "alpha beta beta", "t"),
      (3L, "alpha beta alpha", "w"),       // target-like candidate
      (4L, "gamma delta gamma", "w"),      // off-domain candidates
      (5L, "gamma delta gamma delta", "w"),
      (6L, "delta gamma delta", "w"))
      .toDF("doc_id", "text", "source")
    val got = TextOps.dsirScores(docs, $"source" === "t")
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(got == Map(
      1L -> (4L, 4L), 2L -> (3L, 3L), 3L -> (3L, 3L),
      4L -> (3L, -3L), 5L -> (4L, -4L), 6L -> (3L, -3L)))
  }

  test("knBigramCounts: exact KN ingredient counts on a tiny corpus") {
    // doc1 bigrams: (a,b) (b,a) (a,b) (b,c); doc2: (b,c)
    val docs = Seq((1L, "a b a b c"), (2L, "b c")).toDF("doc_id", "text")
    val got = TextOps.knBigramCounts(docs)
      .orderBy($"w1", $"w2")
      .as[(String, String, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      ("a", "b", 2L, 2L, 1L, 1L),   // c=2, c_w1(a)=2, fanout 1, cont 1
      ("b", "a", 1L, 3L, 2L, 1L),   // b precedes a once of its 3 uses
      ("b", "c", 2L, 3L, 2L, 1L)))
    // single-token and empty docs emit nothing
    val empty = TextOps.knBigramCounts(
      Seq((1L, "word"), (2L, ""), (3L, null.asInstanceOf[String]))
        .toDF("doc_id", "text"))
    assert(empty.count() == 0)
  }

  test("sq8TopK: integer scores rank like exact on well-separated data") {
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(0.9f, 0.1f)),
      (2L, Seq(0.0f, 1.0f)), (3L, Seq(-1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.sq8TopK(emb, emb.filter($"vec_id" === 0L), 2)
      .orderBy($"rank").as[(Long, Long, Long, Double)].collect()
    assert(got.map(_._3).toSeq == Seq(1L, 2L))
    // scores are exact integers: q(1.0)=128, q(0.9)=115 (floor), so
    // dot(0,1) = 128*115 = 14720; dot(0,2) = 0
    assert(got(0)._4 == 14720.0 && got(1)._4 == 0.0)
  }

  test("mmrSelect: redundant near-clone demoted below the diverse pick") {
    // q=(89,89) after quant; b(id 11) most relevant (rel 12193),
    // a(id 10) its near-clone (rel 11392), c(id 12) orthogonal to both
    // with rel 11392. Round 1 -> b; round 2: mmr(a) = 7*11392 -
    // 3*dot(a,b)=3*16256 = 30976 < mmr(c) = 7*11392 - 3*1280 = 75904
    // -> c; round 3 -> a. Pure relevance would order b, a, c.
    val emb = Seq(
      (5L, Seq(0.7f, 0.7f)),     // query
      (10L, Seq(1.0f, 0.0f)),    // a
      (11L, Seq(0.995f, 0.08f)), // b: quant (127, 10)
      (12L, Seq(0.0f, 1.0f)))    // c
      .toDF("vec_id", "embedding")
    val got = Similarity.mmrSelect(emb.filter($"vec_id" =!= 5L),
        emb.filter($"vec_id" === 5L), k = 3)
      .as[(Long, Int, Long)].collect().toSeq
    assert(got == Seq((5L, 1, 11L), (5L, 2, 12L), (5L, 3, 10L)))
  }

  test("mmrSelect: pool bound excludes low-relevance candidates entirely") {
    // poolSize=2 keeps only b (12193) and a (11392, id tie-break under
    // c's equal rel... a < c) — the diverse c can never be picked
    val emb = Seq(
      (5L, Seq(0.7f, 0.7f)),
      (10L, Seq(1.0f, 0.0f)),
      (11L, Seq(0.995f, 0.08f)),
      (12L, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.mmrSelect(emb.filter($"vec_id" =!= 5L),
        emb.filter($"vec_id" === 5L), k = 2, poolSize = 2)
      .as[(Long, Int, Long)].collect().toSeq
    assert(got == Seq((5L, 1, 11L), (5L, 2, 10L)))
    // k=1 degenerates to pure argmax relevance
    val one = Similarity.mmrSelect(emb.filter($"vec_id" =!= 5L),
        emb.filter($"vec_id" === 5L), k = 1)
      .as[(Long, Int, Long)].collect().toSeq
    assert(one == Seq((5L, 1, 11L)))
  }

  test("pqTopK: handcrafted codebook pins encode and ADC scoring") {
    // dim 4, m=2 subspaces, stride 1, 2 codes: codewords are vec 0's
    // and vec 1's subvectors. quant: 1.0->128, 0.9->115, 0.95->121.
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f, 1.0f)),   // code source 0
      (1L, Seq(0.0f, 1.0f, 1.0f, 0.0f)),   // code source 1
      (2L, Seq(0.9f, 0.1f, 0.1f, 0.9f)),   // encodes (0, 0)
      (3L, Seq(0.1f, 0.9f, 0.95f, 0.05f))) // encodes (1, 1)
      .toDF("vec_id", "embedding")
    val got = Similarity.pqTopK(emb, emb.filter($"vec_id" === 0L), 3,
        m = 2, dim = 4, stride = 1L, nCodes = 2)
      .orderBy($"rank").as[(Long, Long, Long, Double)].collect()
    // ADC(query 0, neighbor 2) = dot([128,0],[128,0]) +
    // dot([0,128],[0,128]) = 32768; neighbors 1 and 3 carry codes
    // (1,1) -> ADC 0, tie broken by neighbor_id
    assert(got.map(r => (r._3, r._4)).toSeq ==
      Seq((2L, 32768.0), (1L, 0.0), (3L, 0.0)))
  }

  test("pqTopK: whole-corpus agreement with sq8 ranks on codeword rows") {
    // rows that ARE codeword sources reconstruct exactly (distance 0
    // to their own codeword), so PQ scores on them equal the sq8
    // integer dots and the ranking matches sq8's over that subset
    val rnd = new scala.util.Random(11)
    val emb = (0L until 16L).map(i =>
        (i, Seq.fill(8)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val pq = Similarity.pqTopK(emb, emb.filter($"vec_id" === 0L), 15,
        m = 4, dim = 8, stride = 1L, nCodes = 16)
      .as[(Long, Long, Long, Double)].collect().toSet
    val sq = Similarity.sq8TopK(emb, emb.filter($"vec_id" === 0L), 15)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(pq == sq)
  }

  test("matryoshkaTopK: generous overfetch recovers the exact top-k") {
    // 40 vectors in 32 dims; with overfetch covering the whole corpus
    // the two-stage result must equal brute force exactly
    val rnd = new scala.util.Random(5)
    val emb = (0L until 40L).map(i =>
        (i, Seq.fill(32)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val queries = emb.filter($"vec_id" < 3)
    val brute = Similarity.bruteForceTopK(emb, queries, 5)
      .as[(Long, Long, Long, Double)].collect().toSet
    val two = Similarity.matryoshkaTopK(emb, queries, 5,
        prefixDims = 16, overfetch = 8) // 8*5 = 40 >= corpus
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(two == brute)
    // tight overfetch is a real prefilter: still k rows per query,
    // ranked by the full-dim cosine
    val tight = Similarity.matryoshkaTopK(emb, queries, 5,
        prefixDims = 16, overfetch = 1)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(tight.count(_._2 <= 5) == 15)
  }

  test("table groups: the reference's missing-comma bug is fixed") {
    // reference `Config.java:16-17` fuses order_line/stock into one
    // literal; the rebuilt group `all` must contain all 9 real tables
    assert(TableGroups.All.size == 9)
    assert(TableGroups.All.contains("bmsql_order_line"))
    assert(TableGroups.All.contains("bmsql_stock"))
    assert(TableGroups.resolve("all").toSet == TableGroups.All.toSet)
    intercept[IllegalArgumentException](TableGroups.resolve("nope"))
  }

  test("kmeansAssign: two planted clusters converge; exact centroids") {
    // quantized: 0->(0,0) 1->(128,128) 2->(12,0) 3->(115,128); init =
    // vecs 0,1; update -> c0=(6,0), c1=(121,128); reassign is stable
    val emb = Seq(
      (0L, Seq(0.0f, 0.0f)), (1L, Seq(1.0f, 1.0f)),
      (2L, Seq(0.1f, 0.0f)), (3L, Seq(0.9f, 1.0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.kmeansAssign(emb, k = 2, iters = 2)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (0L, 0L, 36L, 2L),            // (0-6)^2
      (1L, 1L, 49L, 2L),            // (128-121)^2
      (2L, 0L, 36L, 2L),            // (12-6)^2
      (3L, 1L, 36L, 2L)))           // (115-121)^2
  }

  test("kmeansAssign: exact distance tie breaks to the lower cluster") {
    val emb = Seq(
      (0L, Seq(0.0f, 0.0f)), (1L, Seq(2.0f, 0.0f)), (2L, Seq(1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.kmeansAssign(emb, k = 2, iters = 1)
      .as[(Long, Long, Long, Long)].collect()
      .map { case (id, c, _, _) => id -> c }.toMap
    assert(got(2L) == 0L) // dist 128^2 to both centroids -> cluster 0
  }

  test("kmeansAssign seeds k clusters on sparse/offset id spaces") {
    // ids start at 100: a vec_id < k init filter would seed ZERO
    // centroids and return an empty frame; first-k-by-id must seed 2
    val emb = Seq(
      (100L, Seq(0.0f, 0.0f)), (101L, Seq(1.0f, 1.0f)),
      (102L, Seq(0.1f, 0.0f)), (103L, Seq(0.9f, 1.0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.kmeansAssign(emb, k = 2, iters = 2)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got.map(_._1) == Seq(100L, 101L, 102L, 103L))
    assert(got.map(_._2).distinct.sorted == Seq(100L, 101L))
    assert(got.forall(_._4 == 2L))
  }

  test("kmeansAssign matches a reference Lloyd on seeded random vectors") {
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 40L).map(i =>
      i -> Seq.fill(4)(rnd.nextFloat() * 2 - 1))
    val (k, iters) = (4, 2)
    val got = Similarity.kmeansAssign(
        vecs.toDF("vec_id", "embedding"), k = k, iters = iters)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // independent reference: same lattice, first-k init, (d, cluster)
    // tie-break, truncating integer mean (Long / truncates like div)
    val lat = vecs.map { case (id, e) =>
      id -> e.map(x => math.floor(x.toDouble * 128.0).toLong).toArray
    }.toMap
    var cent: Map[Long, Array[Long]] =
      (0L until k.toLong).map(c => c -> lat(c)).toMap
    def assign(): Map[Long, (Long, Long)] = lat.map { case (id, qv) =>
      val (d, c) = cent.toSeq.map { case (c, cv) =>
        (qv.zip(cv).map { case (a, b) => (a - b) * (a - b) }.sum, c)
      }.min
      id -> ((c, d))
    }
    var a = assign()
    for (_ <- 2 to iters) {
      cent = a.groupBy(_._2._1).map { case (c, members) =>
        val qs = members.keys.toSeq.map(lat)
        c -> Array.tabulate(4)(d =>
          qs.map(_(d)).sum / qs.size)
      }
      a = assign()
    }
    val sizes = a.groupBy(_._2._1).map { case (c, m) => c -> m.size.toLong }
    val expect = a.map { case (id, (c, d)) => id -> ((c, d, sizes(c))) }
    assert(got == expect)
  }

  test("kAnonymityLadder: coarser widths merge at-risk classes away") {
    // 3 docs at 100 chars + 3 at 300: width 256 splits them into two
    // classes of 3 (both under k=5, 6 docs stranded); width >= 512
    // merges them into one safe class of 6
    val docs = ((1 to 3).map(i => (i.toLong, "en", "web", 100L)) ++
      (4 to 6).map(i => (i.toLong, "en", "web", 300L)))
      .toDF("doc_id", "lang", "source", "n_chars")
    val got = TextOps.kAnonymityLadder(docs)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (256L, 2L, 2L, 6L),
      (512L, 1L, 0L, 0L),
      (1024L, 1L, 0L, 0L),
      (2048L, 1L, 0L, 0L)))
  }

  test("kAnonymity flags classes under k and exposes exact shares") {
    val docs = Seq(
      (1L, "en", "web", 100L), (2L, "en", "web", 200L),
      (3L, "en", "web", 130L), (4L, "en", "web", 90L),
      (5L, "en", "web", 10L),                       // class of 5: safe
      (6L, "de", "web", 400L))                      // class of 1: at risk
      .toDF("doc_id", "lang", "source", "n_chars")
    val got = TextOps.kAnonymity(docs)
      .as[(String, String, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      ("de", "web", 256L, 1L, 1L, 166666L),
      ("en", "web", 0L, 5L, 0L, 833333L)))
  }
}
