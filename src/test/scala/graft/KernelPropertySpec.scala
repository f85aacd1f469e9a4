package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.util.GenericArrayData
import graft.functions.VecMath
import graft.functions.DateLib
import graft.sources.Sqlite

/** Seeded randomized property checks for the pure kernels — the
  * invariants the fixture-based specs spot-check, swept over a few
  * hundred random inputs each (fixed seed: failures reproduce). */
class KernelPropertySpec extends AnyFunSuite {
  private def rnd = new scala.util.Random(0xC0FFEE)

  test("sqlite varint roundtrips across the supported range") {
    val r = rnd
    val edges = Seq(0L, 1L, 127L, 128L, 16383L, 16384L, (1L << 56) - 1)
    val vals = edges ++ Seq.fill(500)(math.abs(r.nextLong()) % (1L << 56))
    for (v <- vals) {
      val b = Sqlite.varintBytes(v)
      assert(Sqlite.varint(b, 0) === ((v, b.length)), s"v=$v")
    }
  }

  test("sqlite write/scan roundtrips random string/long/null rows") {
    val r = rnd
    for (trial <- 0 until 10) {
      val rows = Seq.fill(r.nextInt(40) + 1)(Seq[Any](
        r.nextInt(3) match {
          case 0 => r.alphanumeric.take(r.nextInt(50)).mkString
          case 1 => r.nextLong()
          case _ => null
        },
        r.alphanumeric.take(r.nextInt(30)).mkString))
      val f = java.io.File.createTempFile(s"graft_prop$trial", ".db")
      f.deleteOnExit()
      Sqlite.writeDb(f, "t", "CREATE TABLE t (a, b)", rows)
      val got = Sqlite.scanTable(java.nio.file.Files.readAllBytes(f.toPath), "t")
      assert(got === rows, s"trial=$trial")
    }
  }

  private def arr(xs: Seq[Long]) = new GenericArrayData(xs.toArray)

  test("dotLong matches the zip fold; mismatch and null slots give null") {
    val r = rnd
    for (_ <- 0 until 200) {
      val n = r.nextInt(20) + 1
      val a = Seq.fill(n)(r.nextLong() % 1000000)
      val b = Seq.fill(n)(r.nextLong() % 1000000)
      assert(VecMath.dotLong(arr(a), arr(b))
        === a.zip(b).map { case (x, y) => x * y }.sum)
      assert(VecMath.dotLong(arr(a :+ 1L), arr(b)) === null)
    }
    val withNull = new GenericArrayData(Array[Any](1L, null, 3L))
    assert(VecMath.dotLong(withNull, arr(Seq(1L, 2L, 3L))) === null)
  }

  test("minhashSig matches the per-permutation minima") {
    val r = rnd
    for (_ <- 0 until 100) {
      val ids = Seq.fill(r.nextInt(30) + 1)(math.abs(r.nextLong()) % VecMath.P)
      val got = VecMath.minhashSig(arr(ids), 16).toLongArray().toSeq
      val want = (0 until 16).map(j =>
        ids.map(s => (VecMath.aj(j) * s + VecMath.bj(j)) % VecMath.P).min)
      assert(got === want)
    }
  }

  test("simhashFp matches the per-bit vote fold") {
    val r = rnd
    for (_ <- 0 until 100) {
      val ids = Seq.fill(r.nextInt(30) + 1)(math.abs(r.nextLong()) % VecMath.P)
      val got = VecMath.simhashFp(arr(ids), 64)
      val want = (0 until 64).map { j =>
        val s = ids.map(x =>
          (VecMath.aj(j) * x + VecMath.bj(j)) % VecMath.P % 2L * 2L - 1L).sum
        if (s > 0) 1L << j else 0L
      }.sum
      assert(got === want)
    }
  }

  test("hyperplaneSig matches the per-plane sign fold") {
    val r = rnd
    for (_ <- 0 until 100) {
      val q = Seq.fill(r.nextInt(20) + 1)(r.nextLong() % 2000)
      for ((planes, offset) <- Seq((8, 16), (16, 32))) {
        val got = VecMath.hyperplaneSig(arr(q), planes, offset)
        val want = (0 until planes).map { k =>
          val s = q.zipWithIndex.map { case (v, i) =>
            v * ((VecMath.aj(k + offset) * (i + 1) + VecMath.bj(k + offset))
              % VecMath.P % 2L * 2L - 1L)
          }.sum
          if (s > 0) 1L << k else 0L
        }.sum
        assert(got === want)
      }
    }
  }

  test("uri canonicalization is idempotent over random structured URIs") {
    import graft.functions.UriCanon
    val r = rnd
    val hosts = Seq(
      "http://vocab.getty.edu/aat/", "https://vocab.getty.edu/page/aat/",
      "http://vocab.getty.edu/ulan/", "https://www.wikidata.org/wiki/",
      "http://www.wikidata.org/entity/", "https://id.loc.gov/authorities/names/n",
      "http://id.loc.gov/authorities/subjects/sh", "https://viaf.org/viaf/",
      "https://www.geonames.org/", "https://data.whosonfirst.org/",
      "http://isni-url.oclc.nl/isni/", "https://random.junk.example/",
      "https://creativecommons.org/licenses/")
    val tails = Seq("", "/", ".html", "\"", " ")
    for (_ <- 0 until 500) {
      val u = hosts(r.nextInt(hosts.length)) + r.nextInt(1000000) +
        tails(r.nextInt(tails.length))
      val once = UriCanon.canonicalizeJvm(u)
      if (once != null) {
        val twice = UriCanon.canonicalizeJvm(once)
        assert(twice == once, s"not idempotent: $u -> $once -> $twice")
      }
    }
  }

  test("sanitize kernels are idempotent under every knob combination") {
    import graft.functions.Sanitize
    val r = rnd
    val alphabet = "aB č-é\t\"\\{}!.þ\r\nñ øA"
    for (_ <- 0 until 300) {
      val s = Seq.fill(r.nextInt(40))(alphabet(r.nextInt(alphabet.length))).mkString
      for (dia <- Seq(false, true); mwc <- Seq(0, 3)) {
        val once = Sanitize.sanitizeString(s, dia, mwc)
        assert(Sanitize.sanitizeString(once, dia, mwc) == once,
          s"sanitizeString not idempotent: '$s' (dia=$dia mwc=$mwc)")
      }
      val u = Sanitize.sanitizeUri(s)
      assert(Sanitize.sanitizeUri(u) == u, s"sanitizeUri not idempotent: '$s'")
    }
  }

  test("hebrew year length equals the sum of its month lengths") {
    val r = rnd
    for (_ <- 0 until 100) {
      val y = r.nextInt(6000) + 1
      val months = 7 to (if (DateLib.Hebrew.isLeap(y)) 13 else 12)
      val civil = months ++ (1 to 6)
      assert(civil.map(DateLib.Hebrew.monthLength(y, _)).sum
        === DateLib.Hebrew.yearLength(y), s"year=$y")
    }
  }

  test("consecutive hebrew new years are a year length apart and valid") {
    val r = rnd
    for (_ <- 0 until 50) {
      val y = r.nextInt(6000) + 1
      val rd1 = DateLib.Hebrew.toRataDie(y, 7, 1)
      val rd2 = DateLib.Hebrew.toRataDie(y + 1, 7, 1)
      assert(rd1.isDefined && rd2.isDefined)
      assert(rd2.get - rd1.get === DateLib.Hebrew.yearLength(y))
      // a year is 353..385 days in the fixed calendar
      assert(DateLib.Hebrew.yearLength(y) >= 353 && DateLib.Hebrew.yearLength(y) <= 385)
    }
  }

  test("resizeImage fits the box, and the box resample averages real pixels") {
    import graft.sources.{ImageCodec, Multimodal}
    val r = rnd
    for (_ <- 0 until 200) {
      val w = r.nextInt(40) + 1
      val h = r.nextInt(40) + 1
      val gray = Array.fill(w * h)(r.nextInt(256))
      val bytes = ImageCodec.encodeBmp24(w, h, gray)
      val t = r.nextInt(20) + 1
      val z = Multimodal.resizeImage(t)(1L, bytes)
      assert(z.width === w && z.height === h)
      if (w >= t || h >= t) {
        assert(z.targetW <= t && z.targetH <= t)
        assert(z.targetW >= 1 && z.targetH >= 1)
        assert(math.max(z.targetW, z.targetH) === t) // long edge hits box
        assert((w >= h) === (z.targetW >= z.targetH) || z.targetW == z.targetH)
        // resample invariants: every output pixel is an average of
        // source pixels, so the digest stays within the source range
        val rv = Multimodal.resizeBox(w, h, z.targetW, z.targetH, gray)
        assert(rv.forall(v => v >= gray.min && v <= gray.max))
        assert(z.resizedSum === rv.map(_.toLong).sum)
      } else { // already inside the box: identity, exact pixels
        assert(z.targetW === w && z.targetH === h)
        assert(z.resizedSum === gray.map(_.toLong).sum)
      }
      // constant image resamples to the same constant at any geometry
      val flat = Array.fill(w * h)(137)
      val zf = Multimodal.resizeImage(t)(2L, ImageCodec.encodeBmp24(w, h, flat))
      assert(zf.resizedSum === 137L * zf.targetW * zf.targetH)
    }
    // non-decodable payloads take the total zero fallback
    val bad = Multimodal.resizeImage(256)(2L, Array[Byte](1, 2, 3))
    assert(bad.targetW === 0 && bad.targetH === 0 && bad.resizedHash === 0L)
    // identity-geometry resample returns the source exactly
    val g = Array.tabulate(12)(i => i * 17 % 256)
    assert(Multimodal.resizeBox(4, 3, 4, 3, g).sameElements(g))
  }

  test("frameSample windows the real WAV data chunk and hashes its bytes") {
    import graft.sources.{AvCodec, Multimodal}
    val r = rnd
    for (_ <- 0 until 200) {
      val n = r.nextInt(2000)
      val every = r.nextInt(10) + 1
      val wav = AvCodec.synthWav(8000, 1, 8, n)
      for (i <- 0 until n) wav(44 + i) = r.nextInt(256).toByte
      val frames = Multimodal.frameSample(every)(3L, wav).toVector
      val nFrames = (n + 63) / 64
      assert(frames.size === (nFrames + every - 1) / every)
      if (frames.nonEmpty) {
        assert(frames.head.frameIdx === 0L)
        assert(frames.last.frameIdx < nFrames)
        frames.sliding(2).foreach {
          case Vector(a, b) => assert(b.frameIdx - a.frameIdx === every.toLong)
          case _ =>
        }
        // the hash is over the ACTUAL payload bytes: brute-force replay
        val f0 = frames.head
        var hh = 0L
        for (j <- 44 until math.min(44 + 64, 44 + n))
          hh = (hh * 31 + (wav(j) & 0xff)) % 2147483647L
        assert(f0.frameHash === hh)
      }
      // truncated payload: frames window only the bytes present
      if (n > 100) {
        val cut = wav.take(44 + 70) // 2 partial frames survive
        assert(Multimodal.frameSample(1)(3L, cut).size === 2)
      }
    }
    // non-WAV payloads yield no frames, totally
    assert(Multimodal.frameSample(4)(3L, Array[Byte](1, 2, 3)).isEmpty)
  }

  test("imageFeatures histogram counts every pixel; gradient matches brute force") {
    import graft.sources.{ImageCodec, Multimodal}
    val r = rnd
    for (_ <- 0 until 200) {
      val w = r.nextInt(20) + 1
      val h = r.nextInt(20) + 1
      val gray = Array.fill(w * h)(r.nextInt(256))
      val f = Multimodal.imageFeatures(5L, ImageCodec.encodeBmp24(w, h, gray))
      val hist = Seq(f.h0, f.h1, f.h2, f.h3, f.h4, f.h5, f.h6, f.h7)
      assert(hist.sum === w.toLong * h) // every pixel lands in one bin
      for (j <- 0 to 7)
        assert(hist(j) === gray.count(_ / 32 == j).toLong)
      var grad = 0L
      for (y <- 0 until h; x <- 0 until w) {
        if (x + 1 < w) grad += math.abs(gray(y * w + x + 1) - gray(y * w + x))
        if (y + 1 < h) grad += math.abs(gray((y + 1) * w + x) - gray(y * w + x))
      }
      assert(f.gradEnergy === grad)
    }
    // constant image: all pixels one bin, zero gradient energy
    val flat = Multimodal.imageFeatures(6L,
      ImageCodec.encodeBmp24(5, 5, Array.fill(25)(64)))
    assert(flat.h2 === 25L && flat.gradEnergy === 0L)
    // non-decodable payload: the all-zero total fallback
    val bad = Multimodal.imageFeatures(7L, Array[Byte](9, 9))
    assert(bad.gradEnergy === 0L && bad.h0 === 0L)
  }

  test("yearOf inverts ISO year formatting incl. BCE") {
    val r = rnd
    for (_ <- 0 until 200) {
      val y = r.nextInt(9999) + 1
      assert(DateLib.yearOf(f"$y%04d-06-15") === Some(y))
      assert(DateLib.yearOf(f"-$y%04d-06-15") === Some(-y))
    }
  }

  test("influencedBy output is bounded by and drawn from its inputs") {
    import graft.pipeline.ClassMerge
    import graft.pipeline.ClassMerge.Concept
    val r = rnd
    def concept(): Concept = Concept(
      if (r.nextInt(10) == 0) None else Some(s"c${r.nextInt(4)}"),
      Seq("Label", "label", "L2", "")(r.nextInt(4)),
      Seq("Type", "Language", "Material")(r.nextInt(3)))
    for (_ <- 0 until 500) {
      val n = r.nextInt(4)
      val rc = Seq.fill(n)(concept())
      val mc = Seq.fill(if (r.nextInt(5) == 0) n + 1 else n)(concept())
      val out = ClassMerge.influencedBy(rc, mc)
      if (mc.length != rc.length) assert(out === rc)
      else {
        assert(out.length <= n)
        // every elected entry is one of the two candidates (maybe trimmed)
        out.foreach { c =>
          assert((rc ++ mc).exists(x =>
            x.id == c.id && x.typ == c.typ && x.label.trim == c.label.trim))
        }
        // idempotence: merging a list with itself is identity
        assert(ClassMerge.influencedBy(rc, rc) === rc)
      }
    }
  }

  test("placeDefinedBy always elects one of its inputs or deletes") {
    import graft.pipeline.ClassMerge
    val r = rnd
    val shapes = Seq("junk", "POINT (1.5 2.5)", "POINT (1.25 2.5)",
      "POLYGON ((0.5 0.5, 1.5 0.5, 1.5 1.5, 0.5 0.5))",
      "POLYGON ((0.5 0.5, 2.5 0.5, 2.5 2.5, 0.25 0.25, 0.5 0.5))")
    for (_ <- 0 until 400) {
      val a = shapes(r.nextInt(shapes.length))
      val b = shapes(r.nextInt(shapes.length))
      val out = ClassMerge.placeDefinedBy(a, b)
      out.foreach(w => assert(w == a.trim || w == b.trim))
      // equal values short-circuit untouched (merger.py:181's != guard);
      // DIFFERENT unparseable values delete the property
      if (a == b) assert(out === Some(a))
      else if (!a.startsWith("PO") && !b.startsWith("PO")) assert(out.isEmpty)
      // a polygon on the base side never yields to a point
      if (a.startsWith("POLYGON") && b.startsWith("POINT"))
        assert(out === Some(a))
    }
  }

  test("dmsToArcsec: direction flip negates, magnitudes bounded") {
    import graft.pipeline.FastMap
    val r = rnd
    for (_ <- 0 until 300) {
      val (d, m, s) = (r.nextInt(90), r.nextInt(60), r.nextInt(60))
      val (d2, m2, s2) = (r.nextInt(180), r.nextInt(60), r.nextInt(60))
      val base = s"$d°${m}ʹ${s}ʺN $d2°${m2}ʹ${s2}ʺE"
      val flip = s"$d°${m}ʹ${s}ʺS $d2°${m2}ʹ${s2}ʺW"
      val Some((lon, lat)) = FastMap.dmsToArcsec(base)
      assert(FastMap.dmsToArcsec(flip) === Some((-lon, -lat)))
      assert(lat == d * 3600L + m * 60L + s)
      assert(lon == d2 * 3600L + m2 * 60L + s2)
    }
  }

  test("getty fixTimestamp: end slots never keep a midnight time") {
    import graft.pipeline.GettyMap
    val r = rnd
    for (_ <- 0 until 300) {
      val y = 1201 + r.nextInt(800) // parseable, below the 2025 cutoff
      val v = f"$y%04d-01-02T00:00:00"
      val out = GettyMap.fixTimestamp(v, endPos = true)
      assert(out.isEmpty || !out.contains("00:00:00"), s"$v -> $out")
      // begin slots pass midnight through untouched
      assert(GettyMap.fixTimestamp(v, endPos = false) === v)
    }
  }

  test("ramerdouglas: subset of input, endpoints kept, monotone in tol") {
    import graft.pipeline.WofMap
    val r = rnd
    for (_ <- 0 until 200) {
      val n = 4 + r.nextInt(40)
      // open polyline with distinct endpoints (closed rings pick their
      // own endpoints; covered by the fixture spec)
      val line = Seq.tabulate(n)(i =>
        (i.toDouble, r.nextDouble() * 10 - 5)) :+ (n.toDouble, 100.0)
      val tol = r.nextDouble() * 5 + 0.01
      val out = WofMap.ramerdouglas(line, tol)
      assert(out.head === line.head && out.last === line.last)
      assert(out.toSet.subsetOf(line.toSet))
      assert(out.length <= line.length)
      // a looser tolerance never keeps MORE points
      val out2 = WofMap.ramerdouglas(line, tol * 2)
      assert(out2.length <= out.length, s"tol=$tol: ${out.length} -> ${out2.length}")
    }
  }

  test("similar-query synthesis always parses through the real grammar") {
    import graft.plans.{LuxQL, LuxSimilar}
    val r = rnd
    for (_ <- 0 until 300) {
      val seed = LuxSimilar.Seed(
        classifications = Seq.fill(r.nextInt(3))(s"c${r.nextInt(9)}"),
        texts = Seq.fill(r.nextInt(2))(
          Seq.fill(r.nextInt(12))(r.alphanumeric.filter(_.isLetter)
            .take(3 + r.nextInt(6)).mkString).mkString(" ")),
        born = if (r.nextBoolean()) Some(r.nextInt(2100) + 1) else None,
        died = if (r.nextBoolean()) Some(r.nextInt(2100) + 1) else None,
        memberOf = Seq.fill(r.nextInt(3))(s"g${r.nextInt(9)}"))
      LuxSimilar.agentQueryString(seed).foreach { q =>
        val ast = LuxQL.parse(q) // must never throw
        assert(ast != null)
      }
    }
  }

  test("dnb century completion only ever rewrites two-digit dates") {
    import graft.pipeline.DnbMap
    val r = rnd
    for (_ <- 0 until 300) {
      val dob = (1000 + r.nextInt(1100)).toString
      val dod = r.nextInt(4) match {
        case 0 => (r.nextInt(100)).toString // may be 1-2 digits
        case 1 => (1000 + r.nextInt(1100)).toString
        case 2 => ""
        case _ => f"${r.nextInt(100)}%02d"
      }
      val out = DnbMap.centuryComplete(dob, dod)
      if (dod.length == 2) {
        assert(out === dob.take(2) + dod)
        assert(out.length === 4)
      } else assert(out === dod)
    }
  }

  // plain-Scala twins of the d13/d14 kernels (their equivalence to the
  // Spark expressions is pinned in DedupPlanSpec) — the properties below
  // check the ALGORITHMS over random corpora
  private val P = TextQueries.HashP
  private def wHash(word: String): Long =
    word.foldLeft(0L)((a, c) => (a * TextQueries.WordB + c.toLong) % P)
  private def winnowFps(toks: Seq[String]): Set[Long] = {
    val W = DedupQueries.WinnowW
    val h = toks.map(wHash)
    val kg = if (h.length >= 3)
      (0 until h.length - 2).map(i =>
        ((h(i) * 131L + h(i + 1)) % P * 131L + h(i + 2)) % P)
      else Seq.empty[Long]
    if (kg.isEmpty) Set.empty
    else (0 until math.max(kg.length - W + 1, 1)).map { j =>
      val win = kg.slice(j, j + W)
      kg(j + win.lastIndexOf(win.min))
    }.toSet
  }
  private def cdcChunksOf(toks: Seq[String]): Seq[(Int, Int, Long)] = {
    val h = toks.map(wHash)
    val bps = (1 to toks.length).filter(i => h(i - 1) % DedupQueries.CdcD == 0)
    val starts = (0 +: bps).map(_ + 1)
    val ends = bps :+ toks.length
    starts.zip(ends).filter { case (s, e) => s <= e }
      .map { case (s, e) =>
        (s, e, h.slice(s - 1, e).foldLeft(0L)((a, b) => (a * 131L + b) % P)) }
  }
  private def randToks(r: scala.util.Random, n: Int): Seq[String] =
    Seq.fill(n)(s"w${r.nextInt(500)}")

  test("winnowing guarantee: any shared 6+-token run shares a fingerprint") {
    // Schleimer et al. theorem: a match of at least w+k-1 tokens
    // (= 4+3-1 = 6) contains a full window of identical k-grams, and
    // per-window selection depends only on window content
    val r = rnd
    for (trial <- 0 until 200) {
      val run = randToks(r, 6 + r.nextInt(10))
      def plant(bg: Seq[String]): Seq[String] = {
        val at = r.nextInt(bg.length + 1)
        bg.take(at) ++ run ++ bg.drop(at)
      }
      val a = plant(randToks(r, r.nextInt(60)))
      val b = plant(randToks(r, r.nextInt(60)))
      assert(winnowFps(a).intersect(winnowFps(b)).nonEmpty,
        s"trial=$trial: planted run produced no shared fingerprint")
    }
  }

  test("winnowing density stays in the 2/(w+1) ballpark on random text") {
    val r = rnd
    val docs = Seq.fill(50)(randToks(r, 200 + r.nextInt(200)))
    val kgTotal = docs.map(_.length - 2).sum.toDouble
    val fpTotal = docs.map(winnowFps(_).size).sum.toDouble
    val density = fpTotal / kgTotal
    assert(density > 0.2 && density < 0.6, s"density $density")
  }

  test("CDC edit-locality: chunks outside the edited chunk survive any edit") {
    val r = rnd
    for (trial <- 0 until 200) {
      val t = randToks(r, 40 + r.nextInt(120))
      val p = r.nextInt(t.length) // 0-based edit site
      val edited = r.nextInt(3) match {
        case 0 => t.updated(p, s"x${r.nextInt(500)}") // replace
        case 1 => t.take(p) ++ Seq(s"x${r.nextInt(500)}") ++ t.drop(p) // insert
        case _ => t.take(p) ++ t.drop(p + 1) // delete
      }
      val orig = cdcChunksOf(t)
      val after = cdcChunksOf(edited).map(_._3).toSet
      val ci = orig.indexWhere { case (s, e, _) => s <= p + 1 && p + 1 <= e }
      assert(ci >= 0, s"trial=$trial: edit site in no chunk")
      // a boundary is a per-token property, so an edit at p can only
      // change the boundary AT p — affecting the edited chunk and, if
      // that boundary closed it, merging in its immediate successor;
      // every other chunk must survive verbatim
      val unaffected = orig.take(ci) ++ orig.drop(ci + 2)
      unaffected.foreach { case (s, e, fp) =>
        assert(after.contains(fp),
          s"trial=$trial: chunk [$s,$e] lost by an edit at ${p + 1}")
      }
    }
  }

  test("nomisma nmRef: idempotent, and nm-free ids pass through whole") {
    import graft.pipeline.NomismaMap
    val r = rnd
    for (_ <- 0 until 300) {
      val id = r.nextInt(3) match {
        case 0 => s"nm:${r.alphanumeric.take(8).mkString}"
        case 1 => s"http://${r.alphanumeric.take(10).mkString}/x"
        case _ => s"a-nm:b-nm:${r.alphanumeric.take(5).mkString}"
      }
      val once = NomismaMap.nmRef(id)
      assert(NomismaMap.nmRef(once) === once) // idempotent
      if (!id.contains("nm:")) assert(once === id)
      else assert(!once.contains("nm:"))
    }
  }
}
