package graft.ops

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.etl.SparkSpec

/** Property tests over the round-9 third-phase operators: budget-law
  * and maximality for token mixing, merge-sequence laws for BPE,
  * quantile equivalence for the histogram machinery, rank-mass and
  * reference-equality for PageRank. Deterministic generator sampling
  * (fixed seeds) — failures reproduce exactly. */
class OpsPropertySpec extends SparkSpec {
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (1 to n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  private def docOf(k: Int): String = (1 to k).map(i => s"w$i").mkString(" ")

  test("token budget law: admitted tokens <= budget per source, and maximal") {
    val corpusGen = for {
      n <- Gen.choose(5, 40)
      lens <- Gen.listOfN(n, Gen.choose(3, 60))
      srcs <- Gen.listOfN(n, Gen.oneOf("a", "b", "c"))
    } yield lens.zip(srcs).zipWithIndex.map { case ((l, s), i) =>
      (i.toLong, s, docOf(l))
    }
    for ((corpus, budget) <- samples(corpusGen, 6).zip(
        Seq(50L, 120L, 300L, 80L, 200L, 500L))) {
      val df = corpus.toDF("doc_id", "source", "text")
      val admitted = Sampling.tokenBudgetMix(df, budget, bucketWidth = 8L)
        .select("doc_id", "source", "n_tokens")
        .as[(Long, String, Long)].collect()
      val bySource = admitted.groupBy(_._2).view.mapValues(_.map(_._3).sum)
      bySource.foreach { case (s, t) =>
        assert(t <= budget, s"source $s admitted $t > budget $budget")
      }
      // maximality: for each source, the highest-priority unadmitted
      // doc must NOT fit in the remaining budget (priority = quality
      // desc ≈ longer docs first on this corpus, id tie-break)
      val admittedIds = admitted.map(_._1).toSet
      val all = df.select(col("doc_id"), col("source"),
          TextAnalysis.qualityScore(col("text")).as("q"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n"))
        .as[(Long, String, Double, Long)].collect()
      all.groupBy(_._2).foreach { case (s, docs) =>
        val spent = bySource.getOrElse(s, 0L)
        val unadmitted = docs.filterNot(d => admittedIds(d._1))
          .sortBy(d => (-d._3, d._1))
        unadmitted.headOption.foreach { d =>
          assert(spent + d._4 > budget,
            s"source $s: doc ${d._1} (${d._4} tok) fits in " +
              s"${budget - spent} but was not admitted")
        }
      }
      Dedup.releaseCaches()
    }
  }

  test("unimax law: closed-form waterfill == sequential reference; admitted <= allocation; total <= budget") {
    // the paper's formulation is a sequential loop (smallest language
    // first, cap or split the remainder evenly); the engine ships the
    // closed form (capped set = prefix of the ascending order). This
    // law pins their equality on random corpora — the multiplication
    // form N·n·left <= rem on both sides, so integer arithmetic
    // cannot diverge at boundaries.
    def reference(groups: Seq[(String, Long)], b: Long,
        cap: Long): Map[String, Long] = {
      val sorted = groups.sortBy { case (l, n) => (n, l) }
      var rem = b
      var left = sorted.size.toLong
      var capping = true
      val out = scala.collection.mutable.Map[String, Long]()
      var share = 0L
      for ((lang, n) <- sorted) {
        if (capping && cap * n * left <= rem) {
          out(lang) = cap * n; rem -= cap * n; left -= 1
        } else {
          if (capping) { capping = false; share = rem / left }
          out(lang) = share
        }
      }
      out.toMap
    }
    val corpusGen = for {
      n <- Gen.choose(6, 40)
      lens <- Gen.listOfN(n, Gen.choose(3, 60))
      langs <- Gen.listOfN(n, Gen.oneOf("a", "b", "c", "d"))
    } yield lens.zip(langs).zipWithIndex.map { case ((l, s), i) =>
      (i.toLong, s, docOf(l))
    }
    for ((corpus, (num, den, cap)) <- samples(corpusGen, 6).zip(Seq(
        (1L, 2L, 1L), (4L, 5L, 1L), (3L, 2L, 2L),
        (1L, 3L, 1L), (2L, 1L, 3L), (9L, 10L, 2L)))) {
      val df = corpus.toDF("doc_id", "lang", "text")
      val totals = df.select(col("lang").as("source"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
        .groupBy("source").agg(sum("n_tokens").as("n"))
      val totalTokens = totals.agg(sum("n")).as[Long].collect().head
      val b = totalTokens * num / den
      val engine = Sampling.unimaxAllocations(totals, b, cap)
        .select("source", "_budget").as[(String, Long)].collect().toMap
      val groups = totals.as[(String, Long)].collect().toSeq
      assert(engine == reference(groups, b, cap),
        s"closed form diverged from the sequential waterfill at " +
          s"B=$b N=$cap over $groups")
      assert(engine.values.sum <= math.max(b, cap * totalTokens),
        s"allocations exceed every bound: $engine")
      val admitted = Sampling.unimaxMix(df, num, den, cap,
          bucketWidth = 8L)
        .select("source", "n_tokens").as[(String, Long)].collect()
      admitted.groupBy(_._1).foreach { case (l, docs) =>
        assert(docs.map(_._2).sum <= engine(l),
          s"lang $l admitted ${docs.map(_._2).sum} > budget ${engine(l)}")
      }
      Dedup.releaseCaches()
    }
  }

  test("BPE law: merge counts never increase; symbols only shrink") {
    val corpusGen = for {
      n <- Gen.choose(2, 6)
      words <- Gen.listOfN(n, for {
        l <- Gen.choose(2, 8)
        cs <- Gen.listOfN(l, Gen.oneOf('a', 'b', 'c'))
      } yield cs.mkString)
      reps <- Gen.listOfN(n, Gen.choose(1, 5))
    } yield words.zip(reps).flatMap { case (w, r) => Seq.fill(r)(w) }
      .mkString(" ")
    for ((text, i) <- samples(corpusGen, 5).zipWithIndex) {
      val d = Seq((i.toLong, text)).toDF("doc_id", "text")
      val (merges, vocab) = Bpe.learnMerges(d, 6)
      // chosen-pair counts are non-increasing: a later merge can never
      // beat an earlier round's winner (it existed then too, unless
      // created by a merge — which only concatenates, never splits)
      merges.sliding(2).foreach {
        case Seq(a, b) => assert(b.count <= a.count,
          s"round ${b.rank} count ${b.count} > round ${a.rank} ${a.count}")
        case _ =>
      }
      // symbol-removal bounds: a round counts OVERLAPPING pairs but
      // merges non-overlapping occurrences left-to-right, so an A-A
      // run of k pairs removes ceil(k/2)..k symbols; distinct-symbol
      // pairs remove exactly their count
      val syms = vocab.select(
        sum(size(split(expr(s"btrim(ws, '${Bpe.Sep}')"),
          s"${Bpe.Sep}${Bpe.Sep}")).cast("long") * col("cnt")))
        .as[Long].collect().head
      val chars = vocab.select(sum(length(col("word")).cast("long") * col("cnt")))
        .as[Long].collect().head
      val removed = chars - syms
      val hi = merges.map(_.count).sum
      val lo = merges.map(m => (m.count + 1) / 2).sum
      assert(removed <= hi && removed >= lo,
        s"removed $removed outside [$lo, $hi]")
      Dedup.releaseCaches()
    }
  }

  test("histogram quantiles == percentile() across random keys and qs") {
    val gen = for {
      n <- Gen.choose(20, 200)
      vals <- Gen.listOfN(n, Gen.choose(0, 30))
      keys <- Gen.listOfN(n, Gen.oneOf("x", "y"))
    } yield keys.zip(vals)
    for ((rows, q) <- samples(gen, 4).zip(Seq(0.25, 0.5, 0.75, 0.95))) {
      val df = rows.toDF("k", "v")
      val hist = df.groupBy(col("k"), col("v").cast("double").as("v"))
        .agg(count(lit(1)).as("c"))
      val got = Robust.quantileFromHistogram(hist, q, Seq("k"), "qv")
        .as[(String, Double)].collect().toMap
      val want = df.groupBy("k").agg(expr(s"percentile(v, $q)").as("p"))
        .as[(String, Double)].collect().toMap
      assert(got == want, s"q=$q")
    }
  }

  test("PageRank: reference equality and mass bounds on random graphs") {
    val gen = for {
      nodes <- Gen.choose(5, 20)
      m <- Gen.choose(nodes, 3 * nodes)
      pairs <- Gen.listOfN(m, for {
        a <- Gen.choose(0, nodes - 1)
        b <- Gen.choose(0, nodes - 1) if b != a
      } yield (a.toLong, b.toLong))
      if pairs.nonEmpty
    } yield pairs.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    for (edges <- samples(gen, 4)) {
      val got = Graph.pageRankTopK(edges.toDF("src", "dst"), 2, 1000)
        .as[(Long, Long)].collect().toMap
      val e = edges.distinct
      val out = e.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
      val n = out.size.toLong
      val base = (15L * Graph.Scale) / (100L * n)
      var pr = out.keys.map(_ -> Graph.Scale / n).toMap
      for (_ <- 1 to 2) {
        val c = e.groupBy(_._2).map { case (d, es) =>
          d -> es.map { case (s, _) => pr(s) / out(s) }.sum
        }
        pr = pr.keys.map(v => v -> (base + 85L * c.getOrElse(v, 0L) / 100L)).toMap
      }
      assert(got == pr)
      val mass = got.values.sum
      assert(mass <= Graph.Scale && mass >= Graph.Scale - 100L * n,
        s"mass $mass drifted from ${Graph.Scale}")
      Dedup.releaseCaches()
    }
  }

  test("exact dedup laws: idempotent, copy counts conserve rows, keeper is min id") {
    val corpusGen = for {
      n <- Gen.choose(4, 30)
      picks <- Gen.listOfN(n, Gen.choose(0, 6)) // heavy collision rate
    } yield picks.zipWithIndex.map { case (p, i) => (i.toLong, s"text $p") }
    for (corpus <- samples(corpusGen, 8)) {
      val df = corpus.toDF("doc_id", "text")
      val once = Dedup.exact(df).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      // conservation: copy counts sum to the corpus size
      assert(once.map(_._3).sum == corpus.length)
      // keeper: min doc_id of each content group
      val expect = corpus.groupBy(_._2).map { case (t, rows) =>
        rows.map(_._1).min -> rows.length.toLong
      }
      assert(once.map(r => r._2 -> r._3).toMap == expect)
      // idempotence: dedup of the survivors is the identity
      val survivors = corpus.groupBy(_._2).map { case (t, rows) =>
        (rows.map(_._1).min, t)
      }.toSeq.toDF("doc_id", "text")
      val twice = Dedup.exact(survivors).collect()
      assert(twice.forall(_.getAs[Long]("n_copies") == 1L))
      assert(twice.length == expect.size)
    }
  }

  test("packing conservation: every doc in exactly one shard, tokens conserved, budget respected") {
    val corpusGen = for {
      n <- Gen.choose(3, 40)
      lens <- Gen.listOfN(n, Gen.choose(1L, 50L))
    } yield lens.zipWithIndex.map { case (l, i) => (i.toLong, l) }
    for ((corpus, budget) <- samples(corpusGen, 6)
        .zip(Seq(30L, 75L, 120L, 55L, 200L, 17L))) {
      val counts = corpus.toDF("doc_id", "n_tokens")
      val packed = Packing.packFromCounts(counts, budget, bucketWidth = 16L)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      // bijection on docs + token conservation
      assert(packed.map(_._1).sorted.toSeq == corpus.map(_._1).sorted)
      assert(packed.map(_._2).sum == corpus.map(_._2).sum)
      // the prefix-sum contract: shard = floor(tokens-before / budget),
      // replayed single-threaded in doc_id order
      var cum = 0L
      val expect = corpus.sortBy(_._1).map { case (id, l) =>
        val s = cum / budget; cum += l; (id, l, s)
      }
      assert(packed.sortBy(_._1).toSeq == expect,
        s"budget $budget: shard assignment diverged from the replay")
    }
  }

  test("KN law: estimates sum to exactly 1 over the model vocabulary for every context") {
    val corpusGen = for {
      n <- Gen.choose(3, 15)
      docs <- Gen.listOfN(n, Gen.listOfN(8, Gen.oneOf("a", "b", "c", "d"))
        .map(_.mkString(" ")))
    } yield docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    for (corpus <- samples(corpusGen, 5)) {
      val m = TextAnalysis.knBigramModel(corpus.toDF("doc_id", "text"))
      val bc = m.biCounts.collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
      val n1v = bc.keys.groupBy(_._2).view.mapValues(_.size.toDouble).toMap
      val n1tot = bc.size.toDouble
      val byCtx = bc.keys.groupBy(_._1)
      byCtx.foreach { case (u, pairsSet) =>
        val pairs = pairsSet.toList // Set would collapse equal count terms
        val cu = pairs.map(bc).sum
        val n1u = pairs.size.toDouble
        // sum of P(v|u) over ALL model words v (seen-after-u bigrams
        // carry the discounted term; every model word gets backoff mass)
        val seen = pairs.map(p => math.max(bc(p) - 0.75, 0) / cu).sum
        val backoff = 0.75 * n1u / cu * n1v.values.sum / n1tot
        assert(math.abs(seen + backoff - 1.0) < 1e-9,
          s"context $u: mass ${seen + backoff} != 1")
      }
      Dedup.releaseCaches()
    }
  }

  test("decoder fuzz: no byte-walk parser throws on adversarial bytes (total functions)") {
    // at 100 TB corrupt/truncated/hostile blobs are a certainty; every
    // parser must return its sentinel, never throw or over-read. Three
    // generator families: pure random bytes, random TRUNCATIONS of
    // valid fixtures (offset/length fields now point past the end),
    // and valid fixtures with random single-byte corruptions (size
    // fields, marker bytes, table counts).
    val valid: Seq[Array[Byte]] =
      MediaFixtures.planted.map(_.payload) ++
        (1 to 8).map(Multimodal.exifFixture) ++
        Seq(MediaFixtures.mjpegMp4(Seq((4, 2), (4, 2))),
          MediaFixtures.animatedGif(8, 8, Seq((8, 8), (8, 8)),
            Seq(5, 5), Some(2))) ++
        (0 until 8).map(MediaFixtures.plantedAvcMp4) ++
        (0 until 8).map(MediaFixtures.plantedTar) ++
        (0 until 8).map(MediaFixtures.plantedZip) ++
        (0 until 4).flatMap(m => Seq(MediaFixtures.plantedFragMp4(m),
          MediaFixtures.plantedTimelineMp4(m),
          MediaFixtures.plantedTimelineTreeMp4(m),
          MediaFixtures.plantedTimelineTracksMp4(m),
          MediaFixtures.plantedWebm(m), MediaFixtures.plantedWebmLaced(m),
          MediaFixtures.plantedWebmTracks(m), MediaFixtures.plantedWebmCues(m)))
    val rnd = new scala.util.Random(7)
    val randoms = (1 to 60).map { i =>
      val b = new Array[Byte](rnd.nextInt(400)); rnd.nextBytes(b); b
    }
    val truncated = (1 to 120).map { _ =>
      val v = valid(rnd.nextInt(valid.length))
      java.util.Arrays.copyOf(v, rnd.nextInt(math.max(1, v.length)))
    }
    val corrupted = (1 to 120).map { _ =>
      val v = valid(rnd.nextInt(valid.length)).clone()
      for (_ <- 0 to rnd.nextInt(4))
        v(rnd.nextInt(v.length)) = rnd.nextInt(256).toByte
      v
    }
    // sample tables whose entry count claims ~2^31 entries (stsz with a
    // per-sample table and with a uniform size, stco, stsc, stss), and
    // an stss count one entry past its box (slot 0 plants two sync
    // samples, and the mdat header follows the stss): a walk must fail
    // on the count, not allocate for it or read the next box's bytes
    // as entries. Fields are u32s at byte offsets from the box type:
    // stsz uniform +8, count +12; stco/stsc/stss count +8.
    val huge = 0x7fffffffL
    def planted(fields: (String, (Int, Long))*): Array[Byte] = {
      val b = MediaFixtures.plantedAvcMp4(0).clone()
      fields.foreach { case (box, (off, v)) =>
        val at = new String(b, "ISO-8859-1").indexOf(box) + off
        (0 until 4).foreach(k => b(at + k) = (v >> (24 - 8 * k)).toByte)
      }
      b
    }
    val pastBox = Seq(planted("stsz" -> (12, huge)),
      planted("stco" -> (8, huge)), planted("stsc" -> (8, huge)),
      planted("stss" -> (8, huge)), planted("stss" -> (8, 3L)))
    // a uniform stsz size has no table, so its count runs past nothing
    val hugeCounts = planted("stsz" -> (8, 1L), "stsz" -> (12, huge)) +: pastBox
    val inputs = randoms ++ truncated ++ corrupted ++ hugeCounts ++
      Seq(Array.empty[Byte], Array[Byte](0xff.toByte, 0xd8.toByte))
    pastBox.zipWithIndex.foreach { case (b, i) =>
      assert(Multimodal.Mp4KeyframeWalk.index(1L, b).map(_.kf_idx) == Seq(-1),
        s"past-box count $i: keyframe rows instead of the sentinel")
      assert(Multimodal.Mp4FrameTypeWalk.frames(1L, b).map(_.sample_no) == Seq(-1),
        s"past-box count $i: frame-type rows instead of the sentinel")
    }
    inputs.zipWithIndex.foreach { case (b, i) =>
      val o = Multimodal.Exif.orientation(b)
      assert(o >= 0 && o <= 8, s"input $i: orientation $o out of range")
      val meta = Multimodal.Mp4MetaDecoder.decode(1L, "video/mp4", b)
      assert(meta.decoder == "mp4-meta", s"input $i")
      val mp3 = Multimodal.Mp3MetaDecoder.decode(1L, "audio/mpeg", b)
      assert(mp3.decoder == "mp3-meta", s"input $i")
      val frames = Multimodal.Mp4FrameSampler
        .decodeFrames(1L, "video/mp4", b, maxFrames = 2)
      assert(frames.lengthIs <= 2, s"input $i")
      val wav = Multimodal.WavDecoder.decode(1L, "audio/wav", b)
      assert(wav.decoder == "wav", s"input $i")
      val img = Multimodal.ImageIoDecoder.decode(1L, "image/png", b)
      assert(img.decoder == "imageio", s"input $i")
      val gif = Multimodal.GifAnim.meta(1L, b)
      assert(gif.n_frames >= 0 && gif.total_delay_cs >= 0, s"input $i")
      val tar = Multimodal.TarWalk.members(1L, b)
      assert(tar.nonEmpty && tar.forall(m =>
        m.member_idx == -1 || (m.offset >= 512 && m.size >= 0)), s"input $i")
      val zip = Multimodal.ZipWalk.members(1L, b)
      assert(zip.nonEmpty && zip.forall(m =>
        m.member_idx == -1 || (m.offset >= 0 && m.usize >= 0)), s"input $i")
      val kf = Multimodal.Mp4KeyframeWalk.index(1L, b)
      assert(kf.nonEmpty && kf.forall(e =>
        e.kf_idx == -1 || (e.sample_no >= 1 && e.offset >= 0 &&
          e.size >= 0)), s"input $i")
      // the remaining walks: rows of this blob (a sentinel row, or none
      // where a walk documents none), never a throw
      val ids = Multimodal.Mp4SpsWalk.info(1L, b).map(_.media_id) ++
        Multimodal.Mp4FrameTypeWalk.frames(1L, b).map(_.media_id) ++
        Multimodal.Mp4FragmentWalk.index(1L, b).map(_.media_id) ++
        Multimodal.Mp4TimelineWalk.index(1L, b).map(_.media_id) ++
        Multimodal.Mp4TrackTimelineWalk.index(1L, b).map(_.media_id) ++
        Multimodal.WebmWalk.index(1L, b).map(_.media_id) ++
        Multimodal.WebmWalk.cues(1L, b).map(_.media_id)
      assert(ids.forall(_ == 1L), s"input $i")
    }
  }

  test("dense rank law: equals the dense_rank window for random key spreads and partitionings") {
    // withDenseRank's contract is VALUE-identity with the SQL window
    // at any tie density (every row its own class ... one class for
    // the whole frame) under any incoming partitioning — the suffix
    // oracle replay depends on it bit-for-bit
    val caseGen = for {
      n <- Gen.choose(1, 400)
      mod <- Gen.oneOf(1, 2, 7, 50, 100000)
      parts <- Gen.choose(1, 17)
      neg <- Gen.oneOf(0L, -1000000L)
    } yield (n, mod, parts, neg)
    samples(caseGen, 10).foreach { case (n, mod, parts, neg) =>
      val d = spark.range(0, n.toLong)
        .select((col("id") * 2654435761L % mod + neg).as("k"), col("id"))
      val got = Ranking.withDenseRank(d.repartition(parts), Seq("k"), "dr")
        .select("id", "dr").as[(Long, Long)].collect().toMap
      val ks = d.select("k", "id").as[(Long, Long)].collect()
      def denseBy[K: Ordering](key: Long => K): Map[Long, Long] = {
        val rankOf = ks.toSeq.map(x => key(x._1)).distinct.sorted.zipWithIndex
          .map { case (k, i) => k -> (i + 1L) }.toMap
        ks.map { case (k, id) => id -> rankOf(key(k)) }.toMap
      }
      val want = denseBy(identity)
      // the same classes keyed by a binary column: equal keys must
      // compare by content, not by array reference
      val db = d.select(col("k").cast("string").cast("binary").as("kb"),
        col("id"))
      val gotB = Ranking.withDenseRank(db.repartition(parts), Seq("kb"), "dr")
        .select("id", "dr").as[(Long, Long)].collect().toMap
      // ASCII digits and '-': byte order is string order
      val wantB = denseBy(_.toString)
      Dedup.releaseCaches()
      assert(got == want, s"n=$n mod=$mod parts=$parts neg=$neg")
      assert(gotB == wantB, s"binary key: n=$n mod=$mod parts=$parts neg=$neg")
    }
  }

  test("SPS round-trip law: random planted parameters survive encode -> box walk -> exp-Golomb parse exactly") {
    // AVC: the BitWriter-encoded SPS inside a full avcC/MP4 container
    // must parse back to the planted profile/level/dims/crops through
    // the public walk — including the High-profile chroma branch and
    // the container-dims comparison (planted container == display
    // here, so dims_match must hold everywhere)
    val avcGen = for {
      profile <- Gen.oneOf(66, 77, 100)
      level <- Gen.choose(10, 255)
      wMbs <- Gen.choose(1, 64)
      hMbs <- Gen.choose(1, 36)
      cr <- Gen.choose(0, 7)
      cb <- Gen.choose(0, 7)
      nal <- Gen.oneOf(1, 2, 4)
    } yield (profile, level, wMbs, hMbs, cr, cb, nal)
    samples(avcGen, 40).zipWithIndex.foreach {
      case ((profile, level, wMbs, hMbs, cr, cb, nal), i) =>
        val cw = 16 * wMbs - 2 * cr
        val ch = 16 * hMbs - 2 * cb
        // planted crops must leave a positive display area
        if (cw > 0 && ch > 0) {
          val b = MediaFixtures.avcMp4(Seq(100, 123), Some(Seq(1)),
            profile, level, nal, wMbs, hMbs, cr, cb)
          val rows = Multimodal.Mp4SpsWalk.info(i.toLong, b)
          assert(rows.size == 1, s"case $i: ${rows.size} rows")
          val r = rows.head
          assert((r.codec, r.profile_idc, r.level_idc, r.chroma_idc) ==
            (("avc1", profile, level, 1)), s"case $i: $r")
          assert((r.coded_w, r.coded_h) == ((16 * wMbs, 16 * hMbs)),
            s"case $i coded: $r")
          assert((r.disp_w, r.disp_h) == ((cw, ch)), s"case $i disp: $r")
          assert(r.dims_match && r.container_w == cw && r.container_h == ch,
            s"case $i container: $r")
        }
    }
    // HEVC: conformance window, sub-layer PTL skip, Main/Main10-range
    // profiles — same law through the hvcC array walk
    val hevcGen = for {
      profile <- Gen.choose(1, 31)
      level <- Gen.choose(30, 255)
      w <- Gen.choose(2, 240).map(_ * 8)
      h <- Gen.choose(2, 135).map(_ * 8)
      win <- Gen.option(for {
        l <- Gen.choose(0, 3); rr <- Gen.choose(0, 3)
        t <- Gen.choose(0, 3); bb <- Gen.choose(0, 3)
      } yield (l, rr, t, bb))
      maxSub <- Gen.choose(0, 2)
      nal <- Gen.oneOf(1, 2, 4)
    } yield (profile, level, w, h, win, maxSub, nal)
    samples(hevcGen, 40).zipWithIndex.foreach {
      case ((profile, level, w, h, win, maxSub, nal), i) =>
        val (cl, cr2, ct, cb2) = win.getOrElse((0, 0, 0, 0))
        val dw = w - 2 * (cl + cr2)
        val dh = h - 2 * (ct + cb2)
        if (dw > 0 && dh > 0) {
          val b = MediaFixtures.hevcMp4(Seq(100, 123), Some(Seq(1)),
            profile, level, nal, w, h, win, maxSub)
          val rows = Multimodal.Mp4SpsWalk.info(i.toLong, b)
          assert(rows.size == 1, s"hevc case $i: ${rows.size} rows")
          val r = rows.head
          assert((r.codec, r.profile_idc, r.level_idc, r.chroma_idc) ==
            (("hvc1", profile, level, 1)), s"hevc case $i: $r")
          assert((r.coded_w, r.coded_h) == ((w, h)), s"hevc case $i: $r")
          assert((r.disp_w, r.disp_h) == ((dw, dh)), s"hevc case $i: $r")
          assert(r.dims_match, s"hevc case $i container: $r")
        }
    }
  }

  test("fragment round-trip law: random fMP4 layouts survive encode -> tfhd/trun walk -> slice parse exactly") {
    // random codec, NAL prefix, layout ('A' per-sample / 'B' tfhd
    // defaults / 'C' trex defaults), fragment shapes, frame patterns
    // and sizes must round-trip bit-exactly: offsets point at the
    // planted samples (checked against the REAL bytes), sizes, sync
    // claims and slice-decoded frame types all recover
    val gen = for {
      hevc <- Gen.oneOf(true, false)
      nal <- Gen.oneOf(1, 2, 4)
      layout <- Gen.oneOf('A', 'B', 'C')
      nFrags <- Gen.choose(1, 4)
      counts <- Gen.listOfN(nFrags, Gen.choose(1, 5))
      uSize <- Gen.choose(48, 300)
      extra <- Gen.choose(0, 7)
      // layout A may plant arbitrary sync claims; B/C head-of-fragment
      claims <- Gen.listOfN(nFrags * 5, Gen.oneOf(true, false))
      types <- Gen.listOfN(nFrags * 5, Gen.oneOf('I', 'P', 'B'))
    } yield (hevc, nal, layout, counts, uSize, extra, claims, types)
    samples(gen, 50).zipWithIndex.foreach {
      case ((hevc, nal, layout, counts, uSize, extra, claims, types), i) =>
        var k = 0
        val frags = counts.map { n =>
          (1 to n).map { sl =>
            val claimed =
              if (layout == 'A') claims(k) else sl == 1
            val ft = types(k)
            k += 1
            val slice =
              if (hevc) MediaFixtures.hevcSliceNal(
                if (ft == 'I') 19 else if (ft == 'B') 0 else 1,
                if (ft == 'I') 2 else if (ft == 'P') 1 else 0, extra, 16)
              else MediaFixtures.avcSliceNal(ft == 'I',
                if (ft == 'I') 2 else if (ft == 'B') 1 else 0, 16)
            val size = if (layout == 'A') uSize + 5 * sl else uSize
            (MediaFixtures.nalSample(size, nal, hevc, Seq(slice)), claimed)
          }
        }
        val cfg =
          if (hevc) MediaFixtures.hvcCBox(1, 93, nal, 64, 48, None, 0,
            extra)
          else MediaFixtures.avcCBox(77, 31, nal, 4, 3, 0, 0)
        val b = MediaFixtures.fragmentedMp4(
          if (hevc) "hvc1" else "avc1", cfg, 64, 48, layout, frags)
        val rows = Multimodal.Mp4FragmentWalk.index(i.toLong, b)
        val flat = frags.flatten
        assert(rows.size == flat.size, s"case $i: ${rows.size} rows")
        var gs = 0
        counts.zipWithIndex.foreach { case (n, f0) =>
          (1 to n).foreach { sl =>
            val r = rows(gs)
            val (payload, claimed) = flat(gs)
            gs += 1
            assert(r.frag_idx == f0 && r.seq_no == f0 + 1, s"case $i: $r")
            assert(r.size == payload.length, s"case $i: $r")
            // the offset points at the REAL planted bytes
            assert(java.util.Arrays.equals(
              java.util.Arrays.copyOfRange(b, r.offset.toInt,
                r.offset.toInt + r.size), payload),
              s"case $i: offset ${r.offset} does not address the sample")
            assert(r.sync_claimed == claimed, s"case $i: $r")
            val want = types.take(gs).zipWithIndex
              .collect { case (t, j) if j == gs - 1 => t }.head
            assert(r.frame_type == want.toString, s"case $i: $r")
            val rap =
              if (hevc) r.nal_type >= 16 && r.nal_type <= 23
              else r.nal_type == 5
            assert(r.is_rap == rap && rap == (want == 'I'), s"case $i: $r")
            assert(r.sync_consistent == (claimed == rap), s"case $i: $r")
          }
        }
    }
  }

  test("timeline round-trip law: random sidx/tfdt/duration layouts and planted lies survive encode -> audit walk exactly") {
    // random duration layout ('A' per-sample trun / 'B' tfhd default /
    // 'C' trex default), fragment shapes, timescales, presentation
    // starts, and ONE random lie on a random fragment along a random
    // axis (none / tfdt / sidx-duration / sidx-size): the walk must
    // recover every written field exactly and flag precisely the rows
    // the engine's own consistency recurrence condemns
    val gen = for {
      layout <- Gen.oneOf('A', 'B', 'C')
      nFrags <- Gen.choose(1, 5)
      counts <- Gen.listOfN(nFrags, Gen.choose(1, 6))
      d <- Gen.choose(20L, 3000L)
      ts <- Gen.choose(600L, 90000L)
      ept <- Gen.choose(0L, 10000L)
      axis <- Gen.oneOf(0, 1, 2, 3)
      target <- Gen.choose(0, 4)
      delta <- Gen.choose(1L, 97L)
    } yield (layout, counts, d, ts, ept, axis, target, delta)
    samples(gen, 50).zipWithIndex.foreach {
      case ((layout, counts, d, ts, ept, axis, target, delta), i) =>
        val nFrags = counts.size
        val tgt = target % nFrags
        val durSums = counts.map(_ * d)
        val tfdts = (0 until nFrags).map { f =>
          ept + durSums.take(f).sum +
            (if (axis == 1 && f == tgt) delta else 0L)
        }
        val sidxDurs = (0 until nFrags).map { f =>
          durSums(f) + (if (axis == 2 && f == tgt) delta else 0L)
        }
        val fragLen = (n: Int) => layout match {
          case 'A' => 88L + 14 * n
          case 'B' => 92L + 10 * n
          case _ => 88L + 10 * n
        }
        val sizes = (0 until nFrags).map { f =>
          fragLen(counts(f)) + (if (axis == 3 && f == tgt) delta else 0L)
        }
        val b = MediaFixtures.timelineMp4(ts, ept, layout, d, counts,
          tfdts, sidxDurs, sidxSizes = Some(sizes))
        val rows = Multimodal.Mp4TimelineWalk.index(i.toLong, b)
        assert(rows.size == nFrags, s"case $i: ${rows.size} rows")
        (0 until nFrags).foreach { f =>
          val r = rows(f)
          assert(r.frag_idx == f && r.seq_no == f + 1, s"case $i: $r")
          assert(r.n_samples == counts(f), s"case $i: $r")
          assert(r.dur_sum == durSums(f), s"case $i: $r")
          assert(r.tfdt == tfdts(f), s"case $i: $r")
          assert(r.sidx_dur == sidxDurs(f), s"case $i: $r")
          assert(r.sidx_size == sizes(f), s"case $i: $r")
          assert(r.actual_size == fragLen(counts(f)), s"case $i: $r")
          assert(r.timescale == ts, s"case $i: $r")
          // the expected flags re-derive the recurrence from the
          // WRITTEN values, independently of the byte walk
          val wantTfdtOk =
            if (f == 0) tfdts(0) == ept
            else tfdts(f) == tfdts(f - 1) + durSums(f - 1)
          assert(r.tfdt_consistent == wantTfdtOk, s"case $i f$f: $r")
          assert(r.sidx_dur_consistent == (sidxDurs(f) == durSums(f)),
            s"case $i f$f: $r")
          assert(r.sidx_size_consistent ==
            (sizes(f) == fragLen(counts(f))), s"case $i f$f: $r")
        }
    }
  }

  test("defaults-ladder law: all 8 tfhd flag subsets x trex-hit/miss x multi-trun round-trip exactly") {
    // r16 (verdict #6): the fragment walk's §8.8.7 grid, enumerated
    // EXHAUSTIVELY — {base-data-offset, default-sample-size,
    // default-sample-flags} tfhd subsets × {trex present, trex
    // absent} — with randomized fragment shapes and 1–3 trun splits
    // per traf (later truns alternate explicit data_offset /
    // contiguous continuation). Per-sample trun sizes/flags are
    // emitted exactly when no default supplies them, so every cell
    // exercises its own rung of the ladder.
    def be(v: Long): Array[Byte] = Array(((v >> 24) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    def bx(t: String, p: Array[Byte]): Array[Byte] =
      be(8L + p.length) ++ t.getBytes("US-ASCII") ++ p
    val Sync = 0x02000000L
    val NonSync = 0x01010000L
    val cfg = MediaFixtures.avcCBox(77, 31, nalLen = 2, 4, 3, 0, 0)
    val entry = be(8L + 78 + cfg.length) ++
      "avc1".getBytes("US-ASCII") ++ new Array[Byte](78) ++ cfg
    val stsd = bx("stsd", be(0) ++ be(1) ++ entry)
    var cell = 0
    for {
      hasBase <- Seq(false, true)
      hasDefSize <- Seq(false, true)
      hasDefFlags <- Seq(false, true)
      trexHit <- Seq(false, true)
    } {
      cell += 1
      val rnd = new scala.util.Random(cell.toLong) // deterministic per cell
      val uSize = 60 + rnd.nextInt(60)
      val perSampleSize = !hasDefSize && !trexHit
      val perSampleFlags = !hasDefFlags && !trexHit
      val nFrags = 1 + rnd.nextInt(3)
      val counts = Seq.fill(nFrags)(2 + rnd.nextInt(4))
      val types = counts.map(n => Seq.fill(n)(
        Seq('I', 'P', 'B')(rnd.nextInt(3))))
      // expected effective flags mirror the walk's precedence chain:
      // per-sample > tfhd default > trex default (> 0 on trex miss)
      val defFlagsVal =
        if (hasDefFlags) NonSync else if (trexHit) NonSync else 0L
      val claimsOf = (f: Int) => (0 until counts(f)).map { k =>
        if (perSampleFlags) k % 2 == 0
        else (defFlagsVal & 0x10000L) == 0L
      }
      val sizesOf = (f: Int) => (0 until counts(f)).map { k =>
        if (perSampleSize) uSize + 3 * k else uSize
      }
      val payloads = (0 until nFrags).map { f =>
        types(f).zipWithIndex.map { case (ft, k) =>
          val base = if (ft == 'I') 2 else if (ft == 'B') 1 else 0
          MediaFixtures.nalSample(sizesOf(f)(k), 2, hevc = false,
            Seq(MediaFixtures.avcSliceNal(ft == 'I', base, 16)))
        }
      }
      val trex =
        if (!trexHit) Array.empty[Byte]
        else bx("trex", be(0) ++ be(1) ++ be(1) ++ be(0) ++
          be(uSize.toLong) ++ be(NonSync))
      val moov = bx("moov",
        bx("trak", bx("mdia", bx("minf", bx("stbl", stsd)))) ++
          (if (trexHit) bx("mvex", trex) else Array.empty[Byte]))
      val ftyp = bx("ftyp", "isom".getBytes("US-ASCII") ++ be(0))
      // assemble fragments with a two-pass for offsets; split each
      // traf's samples into 1-3 truns
      var pos = (ftyp.length + moov.length).toLong
      val fileOut = new java.io.ByteArrayOutputStream()
      fileOut.write(ftyp); fileOut.write(moov)
      val wantRows = scala.collection.mutable.ArrayBuffer[
        (Long, Int, Boolean, Char)]() // (offset, size, claimed, type)
      (0 until nFrags).foreach { f =>
        val n = counts(f)
        val splits = 1 + rnd.nextInt(math.min(3, n))
        val bounds = (0 to splits).map(s => s * n / splits)
        val laterExplicit = rnd.nextBoolean()
        def moofOf(moofStart: Long, dataStart: Long): Array[Byte] = {
          val mfhd = bx("mfhd", be(0) ++ be(f + 1L))
          var tf = 0L
          var body = be(1) // track id
          if (hasBase) { tf |= 0x1
            body = body ++ be(moofStart >> 32) ++ be(moofStart & 0xffffffffL) }
          if (hasDefSize) { tf |= 0x10; body = body ++ be(uSize.toLong) }
          if (hasDefFlags) { tf |= 0x20; body = body ++ be(NonSync) }
          val tfhd = bx("tfhd", be(tf) ++ body)
          var sampleAt = dataStart
          val truns = (0 until splits).map { s =>
            val lo = bounds(s); val hi = bounds(s + 1)
            var fl = 0L
            // first trun always carries data_offset (relative to the
            // base); later truns alternate explicit vs contiguous
            val explicit = s == 0 || laterExplicit
            if (explicit) fl |= 0x1
            if (perSampleSize) fl |= 0x200
            if (perSampleFlags) fl |= 0x400
            val baseVal = if (hasBase) moofStart else moofStart
            var p = be(fl) ++ be((hi - lo).toLong)
            if (explicit) p = p ++ be(sampleAt - baseVal)
            (lo until hi).foreach { k =>
              if (perSampleSize) p = p ++ be(sizesOf(f)(k).toLong)
              if (perSampleFlags)
                p = p ++ be(if (k % 2 == 0) Sync else NonSync)
              sampleAt += sizesOf(f)(k)
            }
            bx("trun", p)
          }
          bx("moof", mfhd ++ bx("traf", tfhd ++ truns.flatten.toArray))
        }
        val probeLen = moofOf(pos, 0L).length
        val dataStart = pos + probeLen + 8
        val moof = moofOf(pos, dataStart)
        assert(moof.length == probeLen, "two-pass moof length stable")
        val mdat = bx("mdat", payloads(f).flatten.toArray)
        fileOut.write(moof); fileOut.write(mdat)
        var off = dataStart
        (0 until n).foreach { k =>
          wantRows += ((off, sizesOf(f)(k), claimsOf(f)(k), types(f)(k)))
          off += sizesOf(f)(k)
        }
        pos += moof.length + mdat.length
      }
      val b = fileOut.toByteArray
      val rows = Multimodal.Mp4FragmentWalk.index(cell.toLong, b)
      assert(rows.size == wantRows.size,
        s"cell $cell (base=$hasBase size=$hasDefSize flags=$hasDefFlags " +
          s"trex=$trexHit): ${rows.size}/${wantRows.size} rows " +
          s"(${rows.headOption})")
      rows.zip(wantRows).zipWithIndex.foreach {
        case ((r, (off, sz, claimed, ft)), gi) =>
          val tag = s"cell $cell sample $gi (base=$hasBase " +
            s"size=$hasDefSize flags=$hasDefFlags trex=$trexHit)"
          assert(r.offset == off, s"$tag: $r")
          assert(r.size == sz, s"$tag: $r")
          assert(r.sync_claimed == claimed, s"$tag: $r")
          assert(r.frame_type == ft.toString, s"$tag: $r")
      }
    }
  }

  test("timeline tree law: random hierarchical sidx layouts and one random lie per file survive encode -> audit walk exactly (r18)") {
    // random group shapes (1-4 child sidx boxes, 1-3 fragments each,
    // 1-5 samples per fragment), duration layouts, timescales,
    // presentation starts, and ONE random lie along a random axis
    // (none / child duration / child size / parent duration / parent
    // size): the walk must descend the tree, recover every field,
    // and flag exactly the condemned rows on exactly the right axis
    val gen = for {
      layout <- Gen.oneOf('A', 'B', 'C')
      nGroups <- Gen.choose(1, 4)
      groups <- Gen.listOfN(nGroups,
        Gen.choose(1, 3).flatMap(n => Gen.listOfN(n, Gen.choose(1, 5))))
      d <- Gen.choose(20L, 3000L)
      ts <- Gen.choose(600L, 90000L)
      ept <- Gen.choose(0L, 10000L)
      axis <- Gen.oneOf(0, 1, 2, 3, 4, 5)
      tg <- Gen.choose(0, 11)
      tf <- Gen.choose(0, 11)
      delta <- Gen.choose(1L, 97L)
    } yield (layout, groups, d, ts, ept, axis, tg, tf, delta)
    samples(gen, 40).zipWithIndex.foreach {
      case ((layout, groups, d, ts, ept, axis, tg0, tf0, delta), i) =>
        val tg = tg0 % groups.size
        val tf = tf0 % groups(tg).size
        val b = MediaFixtures.timelineTreeMp4(ts, ept, layout, d,
          groups,
          tfdts = {
            val flat = groups.flatten
            flat.indices.map(f => ept + flat.take(f).map(_ * d).sum)
          },
          childDurLie =
            if (axis == 1) Map((tg, tf) -> delta) else Map.empty,
          childSizeLie =
            if (axis == 2) Map((tg, tf) -> delta) else Map.empty,
          parentDurLie = if (axis == 3) Map(tg -> delta) else Map.empty,
          parentSizeLie = if (axis == 4) Map(tg -> delta) else Map.empty,
          childEptLie = if (axis == 5) Map(tg -> delta) else Map.empty)
        val rows = Multimodal.Mp4TimelineWalk.index(i.toLong, b)
        val gfn = for {
          (counts, g) <- groups.zipWithIndex
          (n, f) <- counts.zipWithIndex
        } yield (g, f, n)
        assert(rows.size == gfn.size, s"case $i: ${rows.size} rows")
        val fragLen = (n: Int) => layout match {
          case 'A' => 88L + 14 * n
          case 'B' => 92L + 10 * n
          case _ => 88L + 10 * n
        }
        rows.zip(gfn).zipWithIndex.foreach { case ((r, (g, f, n)), j) =>
          val hit = g == tg && f == tf
          assert(r.frag_idx == j && r.seq_no == j + 1, s"case $i: $r")
          assert(r.n_samples == n && r.dur_sum == n * d, s"case $i: $r")
          assert(r.tfdt == ept + gfn.take(j).map(_._3 * d).sum &&
            r.tfdt_consistent, s"case $i g$g f$f: $r")
          assert(r.sidx_dur == n * d +
            (if (axis == 1 && hit) delta else 0), s"case $i: $r")
          assert(r.sidx_size == fragLen(n) +
            (if (axis == 2 && hit) delta else 0), s"case $i: $r")
          assert(r.actual_size == fragLen(n) && r.timescale == ts,
            s"case $i: $r")
          assert(r.sidx_dur_consistent == !(axis == 1 && hit),
            s"case $i g$g f$f: $r")
          assert(r.sidx_size_consistent == !(axis == 2 && hit),
            s"case $i g$g f$f: $r")
          assert(r.tree_dur_consistent == !(axis == 3 && g == tg),
            s"case $i g$g f$f: $r")
          assert(r.tree_size_consistent == !(axis == 4 && g == tg),
            s"case $i g$g f$f: $r")
          // a direct ept lie flags its own group; a child-duration
          // lie offsets the claimed clock for EVERY later group
          assert(r.tree_ept_consistent == !((axis == 5 && g == tg) ||
            (axis == 1 && g > tg)), s"case $i g$g f$f: $r")
        }
    }
  }

  test("multi-track timeline law: random track sets, layouts and one random clock lie survive encode -> per-track audit exactly (r18)") {
    // random 1-3 tracks (distinct ids, independent layouts and sample
    // durations), random fragment shapes, and ONE random tfdt lie on
    // a random (fragment, track): expected flags re-derive the
    // PER-TRACK recurrence from the written values independently of
    // the walk — a mid-file lie condemns the lied row AND its own
    // track's successor (expectation resets on a carried claim), and
    // never any row of another track
    val gen = for {
      nTracks <- Gen.choose(1, 3)
      ids <- Gen.pick(nTracks, 1 to 9)
      layouts <- Gen.listOfN(nTracks, Gen.oneOf('A', 'B', 'C'))
      durs <- Gen.listOfN(nTracks, Gen.choose(20L, 3000L))
      bases <- Gen.listOfN(nTracks, Gen.choose(0L, 10000L))
      nFrags <- Gen.choose(1, 5)
      counts <- Gen.listOfN(nFrags,
        Gen.listOfN(nTracks, Gen.choose(1, 5)))
      lie <- Gen.oneOf(true, false)
      tg <- Gen.choose(0, 19)
      tt <- Gen.choose(0, 19)
      delta <- Gen.choose(1L, 97L)
    } yield (ids.toList, layouts, durs, bases, counts, lie, tg, tt, delta)
    samples(gen, 40).zipWithIndex.foreach {
      case ((ids, layouts, durs, bases, counts, lie, tg0, tt0, delta), i) =>
        val nTracks = ids.size
        val nFrags = counts.size
        val (lf, lt) = (tg0 % nFrags, tt0 % nTracks)
        val tracks = ids.indices.map(t =>
          (ids(t), layouts(t), durs(t))).toList
        val tfdts = (0 until nFrags).map { f =>
          (0 until nTracks).map { t =>
            bases(t) + counts.take(f).map(_(t) * durs(t)).sum +
              (if (lie && f == lf && t == lt) delta else 0L)
          }
        }
        val b = MediaFixtures.timelineTracksMp4(tracks, counts, tfdts)
        val rows = Multimodal.Mp4TrackTimelineWalk.index(i.toLong, b)
        assert(rows.size == nFrags * nTracks, s"case $i: ${rows.size}")
        (0 until nFrags).foreach { f =>
          (0 until nTracks).foreach { t =>
            val r = rows(f * nTracks + t)
            assert(r.frag_idx == f && r.seq_no == f + 1 &&
              r.track_id == ids(t), s"case $i f$f t$t: $r")
            assert(r.n_samples == counts(f)(t) &&
              r.dur_sum == counts(f)(t) * durs(t), s"case $i: $r")
            assert(r.tfdt == tfdts(f)(t), s"case $i f$f t$t: $r")
            // the track's own recurrence over WRITTEN values
            val wantOk =
              if (f == 0) true
              else tfdts(f)(t) ==
                tfdts(f - 1)(t) + counts(f - 1)(t) * durs(t)
            assert(r.tfdt_consistent == wantOk, s"case $i f$f t$t: $r")
          }
        }
    }
  }

  test("webm cues law: random seek tables, cadences and one random lie per file survive encode -> audit walk exactly (r18)") {
    // random cluster counts, cadences, timescales, per-cluster
    // keyframe claims, optional DefaultDuration, and ONE random lie
    // along a random axis (none / cluster position / cue time /
    // DefaultDuration): the walk must resolve every honest claim and
    // flag exactly the lied axis. cue_key_ok is a RECOVERED field
    // (the cued block's own claim), not a lie axis — a random non-key
    // claim under a cue must read as cue_key_ok=false by itself.
    val gen = for {
      nClusters <- Gen.choose(1, 5)
      cadence <- Gen.choose(100L, 50000L)
      rel <- Gen.choose(0, 60)
      ts <- Gen.choose(1000L, 2000000L)
      base <- Gen.choose(0L, 100000L)
      keyClaims <- Gen.listOfN(5, Gen.oneOf(true, false))
      ddPresent <- Gen.oneOf(true, false)
      axis <- Gen.oneOf(0, 1, 2, 3)
      tc0 <- Gen.choose(0, 11)
      delta <- Gen.choose(1L, 50L)
    } yield (nClusters, cadence, rel, ts, base, keyClaims, ddPresent,
      axis, tc0, delta)
    samples(gen, 40).zipWithIndex.foreach {
      case ((nClusters, cadence, rel, ts, base, keyClaims, ddPresent,
          axis, tc0, delta), i) =>
        val tc = tc0 % nClusters
        val ddNs = if (!ddPresent) -1L
          else (cadence + (if (axis == 3) delta else 0)) * ts
        val clusters = (0 until nClusters).map { c =>
          (base + cadence * c,
            Seq((rel, 1, keyClaims(c), 0,
              Seq(MediaFixtures.vp9Frame(keyClaims(c), 30 + c)))))
        }
        // the position lie stays under the minimum cluster byte
        // length (~45) so a lied offset can never alias the NEXT
        // cluster's real start and read as found-but-wrong-time
        val posDelta = (delta - 1) % 20 + 1
        val cues = (0 until nClusters).map { c =>
          (base + cadence * c + rel +
            (if (axis == 2 && c == tc) delta else 0L), 1, c,
            if (axis == 1 && c == tc) posDelta else 0L)
        }
        val b = MediaFixtures.webmCues("webm", ts,
          Seq((1, 1L, "V_VP9", 640, 360, ddNs)), clusters, cues)
        val rows = Multimodal.WebmWalk.cues(i.toLong, b)
        assert(rows.size == nClusters, s"case $i: ${rows.size} rows")
        rows.zipWithIndex.foreach { case (r, c) =>
          val posLie = axis == 1 && c == tc
          val timeLie = axis == 2 && c == tc
          assert(r.cue_idx == c && r.cue_track == 1, s"case $i: $r")
          assert(r.cue_time == base + cadence * c + rel +
            (if (timeLie) delta else 0), s"case $i c$c: $r")
          assert(r.cluster_idx == (if (posLie) -1 else c),
            s"case $i c$c: $r")
          assert(r.cluster_found == !posLie, s"case $i c$c: $r")
          assert(r.cue_time_ok == !timeLie, s"case $i c$c: $r")
          assert(r.cue_key_ok ==
            (posLie || timeLie || keyClaims(c)), s"case $i c$c: $r")
          assert(r.default_dur_ns == ddNs, s"case $i c$c: $r")
          assert(r.measured_frame_ticks ==
            (if (nClusters < 2) -1L else cadence), s"case $i c$c: $r")
          assert(r.default_dur_ok == (!ddPresent || nClusters < 2 ||
            axis != 3), s"case $i c$c: $r")
          assert(r.timescale == ts && r.codec == "V_VP9" &&
            r.track_type == 1, s"case $i: $r")
        }
    }
  }

  test("webm round-trip law: random EBML layouts, tracks, timestamps and key patterns survive encode -> walk exactly") {
    // random cluster/block shapes, track numbers, negative relative
    // timestamps (SimpleBlock rel is SIGNED s16), timescales, dims,
    // frame sizes, and independent claim/bitstream key patterns —
    // the walk must recover every field and flag exactly the rows
    // where the claim and the VP9 frame_type bit disagree
    val gen = for {
      nClusters <- Gen.choose(1, 4)
      counts <- Gen.listOfN(nClusters, Gen.choose(1, 5))
      track <- Gen.choose(1, 7)
      ts <- Gen.choose(1000L, 2000000L)
      w <- Gen.choose(16, 4096)
      h <- Gen.choose(16, 2160)
      claims <- Gen.listOfN(20, Gen.oneOf(true, false))
      keys <- Gen.listOfN(20, Gen.oneOf(true, false))
      rels <- Gen.listOfN(20, Gen.choose(-30000, 30000))
      sizes <- Gen.listOfN(20, Gen.choose(1, 200))
      base <- Gen.choose(0L, 100000L)
      grouped <- Gen.oneOf(true, false)
      // r17: unknown-size Segment/Cluster markers (the streaming-
      // muxed encoding) must be invisible to every recovered field
      unknown <- Gen.oneOf(true, false)
    } yield (counts, track, ts, w, h, claims, keys, rels, sizes, base,
      grouped, unknown)
    samples(gen, 40).zipWithIndex.foreach {
      case ((counts, track, ts, w, h, claims, keys, rels, sizes, base,
          grouped, unknown), i) =>
        var g = 0
        val clusters = counts.zipWithIndex.map { case (n, c) =>
          val blocks = (0 until n).map { _ =>
            val t = (rels(g), claims(g),
              MediaFixtures.vp9Frame(keys(g), sizes(g)))
            g += 1
            t
          }
          (base + 5000L * c, blocks)
        }
        // both encodings of the same claim: SimpleBlock flags bit vs
        // BlockGroup with ReferenceBlock-absence — rows must be equal
        val b = MediaFixtures.webm("webm", ts, track, "V_VP9", w, h,
          clusters, grouped, unknownSize = unknown)
        val rows = Multimodal.WebmWalk.index(i.toLong, b)
        assert(rows.size == counts.sum, s"case $i: ${rows.size} rows")
        var j = 0
        counts.zipWithIndex.foreach { case (n, c) =>
          (0 until n).foreach { k =>
            val r = rows(j)
            assert(r.cluster_idx == c && r.track == track, s"case $i: $r")
            assert(r.rel_ts == rels(j), s"case $i: $r")
            assert(r.abs_ts == base + 5000L * c + rels(j), s"case $i: $r")
            assert(r.size == sizes(j), s"case $i: $r")
            assert(r.key_claimed == claims(j), s"case $i: $r")
            assert(r.vp9_key == keys(j), s"case $i: $r")
            assert(r.key_consistent == (claims(j) == keys(j)),
              s"case $i: $r")
            assert(r.pixel_w == w && r.pixel_h == h && r.timescale == ts,
              s"case $i: $r")
            j += 1
          }
        }
    }
  }

  test("webm lacing law: random Xiph/fixed/EBML laces survive encode -> walk exactly, one row per frame") {
    // all three lacing modes with random frame counts and sizes —
    // Xiph sizes past 255 exercise the continuation bytes, EBML
    // deltas swing negative/positive across VINT widths, fixed-size
    // splits evenly; the walk must emit one row per laced frame with
    // the block's claim and each frame's own VP9 head bit
    val gen = for {
      nClusters <- Gen.choose(1, 3)
      blocksPer <- Gen.listOfN(nClusters, Gen.choose(1, 3))
      modes <- Gen.listOfN(9, Gen.oneOf(1, 2, 3))
      counts <- Gen.listOfN(9, Gen.choose(1, 5))
      fixSizes <- Gen.listOfN(9, Gen.choose(1, 600))
      sizes <- Gen.listOfN(45, Gen.choose(1, 600))
      claims <- Gen.listOfN(9, Gen.oneOf(true, false))
      keys <- Gen.listOfN(45, Gen.oneOf(true, false))
      rels <- Gen.listOfN(9, Gen.choose(-30000, 30000))
      ts <- Gen.choose(1000L, 2000000L)
      base <- Gen.choose(0L, 100000L)
    } yield (blocksPer, modes, counts, fixSizes, sizes, claims, keys,
      rels, ts, base)
    samples(gen, 40).zipWithIndex.foreach {
      case ((blocksPer, modes, counts, fixSizes, sizes, claims, keys,
          rels, ts, base), i) =>
        var g = 0 // block index
        var f = 0 // frame index
        // remember the planted truth per emitted row
        val truth = scala.collection.mutable.ArrayBuffer[
          (Int, Int, Int, Int, Boolean, Boolean)]()
        val clusters = blocksPer.zipWithIndex.map { case (nb, c) =>
          val blocks = (0 until nb).map { _ =>
            val mode = modes(g)
            val n = counts(g)
            val frames = (0 until n).map { k =>
              val sz = if (mode == 2) fixSizes(g) else sizes(f + k)
              truth += ((c, rels(g), k, sz, claims(g), keys(f + k)))
              MediaFixtures.vp9Frame(keys(f + k), sz)
            }
            val t = (rels(g), claims(g), mode, frames)
            f += n; g += 1
            t
          }
          (base + 5000L * c, blocks)
        }
        val b = MediaFixtures.webmLaced("webm", ts, 1, "V_VP9", 64, 36,
          clusters)
        val rows = Multimodal.WebmWalk.index(i.toLong, b)
        assert(rows.size == truth.size,
          s"case $i: ${rows.size} rows, want ${truth.size}")
        rows.zip(truth).foreach {
          case (r, (c, rel, k, sz, claimed, key)) =>
            assert(r.cluster_idx == c && r.frame_idx == k, s"case $i: $r")
            assert(r.rel_ts == rel, s"case $i: $r")
            assert(r.abs_ts == base + 5000L * c + rel, s"case $i: $r")
            assert(r.size == sz, s"case $i k$k: $r")
            assert(r.key_claimed == claimed, s"case $i: $r")
            assert(r.vp9_key == key, s"case $i k$k: $r")
            assert(r.key_consistent == (claimed == key), s"case $i: $r")
        }
    }
  }

  test("frame-type round-trip law: random access units survive encode -> sample walk -> slice-header parse exactly") {
    // every combination of codec, NAL prefix size, GOP pattern, AVC
    // +5 slice_type variants, HEVC PPS extra bits (0..7 — the walk
    // must read the PPS, not assume zero), optional SEI prefix NALs
    // and random sample sizes must round-trip: encode with the
    // BitWriter fixtures, walk with Mp4FrameTypeWalk, recover the
    // planted frame types and RAP flags exactly
    val gen = for {
      hevc <- Gen.oneOf(true, false)
      nal <- Gen.oneOf(1, 2, 4)
      n <- Gen.choose(1, 8)
      types <- Gen.listOfN(n, Gen.oneOf('I', 'P', 'B'))
      plus5 <- Gen.listOfN(n, Gen.oneOf(0, 1))
      extra <- Gen.choose(0, 7)
      sei <- Gen.oneOf(true, false)
      sizes <- Gen.listOfN(n, Gen.choose(48, 400))
    } yield (hevc, nal, types, plus5, extra, sei, sizes)
    samples(gen, 60).zipWithIndex.foreach {
      case ((hevc, nal, types, plus5, extra, sei, szs), i) =>
        val payloads = types.zipWithIndex.map { case (ft, k) =>
          val slice =
            if (hevc) MediaFixtures.hevcSliceNal(
              if (ft == 'I') 19 else if (ft == 'B') 0 else 1,
              if (ft == 'I') 2 else if (ft == 'P') 1 else 0, extra, 16)
            else MediaFixtures.avcSliceNal(ft == 'I',
              (if (ft == 'I') 2 else if (ft == 'B') 1 else 0) +
                5 * plus5(k), 16)
          val seis =
            if (!sei) Seq.empty
            else if (hevc)
              Seq(Array(((39 << 1) & 0x7e).toByte, 1.toByte, 1.toByte))
            else Seq(Array(6.toByte, 1.toByte, 1.toByte))
          MediaFixtures.nalSample(szs(k), nal, hevc, seis :+ slice)
        }
        val b =
          if (hevc) MediaFixtures.hevcMp4(szs, Some(Seq(1)), 1, 90, nal,
            samples = Some(payloads), ppsExtraBits = extra)
          else MediaFixtures.avcMp4(szs, Some(Seq(1)), 77, 30, nal,
            samples = Some(payloads))
        val rows = Multimodal.Mp4FrameTypeWalk.frames(i.toLong, b)
        assert(rows.map(_.frame_type) == types.map(_.toString),
          s"case $i ($hevc, nal $nal, extra $extra): $rows")
        rows.foreach { r =>
          val rap =
            if (hevc) r.nal_type >= 16 && r.nal_type <= 23
            else r.nal_type == 5
          assert(r.is_rap == rap, s"case $i: $r")
          assert(r.sync_claimed == (r.sample_no == 1), s"case $i: $r")
        }
    }
  }
}
