package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Source-format operators (SURVEY §2.1/§2.3): schema'd JSON extraction
  * from string columns (the record-envelope `data` pattern, S1/S3) and
  * the multimodal binary stages — real header decode, real pixel
  * resample/features, real WAV frame windows — over partition-parallel
  * plumbing. */
object SourceQueries extends QueryGroup {

  /** S3/M1: parse an embedded JSON column with an explicit schema
    * (from_json, codegen'd — no per-record Python loop) and filter on an
    * extracted field. */
  def jsonExtract(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val schema = StructType(Seq(StructField("k", LongType)))
    Tables.load(spark, dir, "events")
      .select($"event_id", from_json($"props", schema).getField("k").as("k"))
      .filter($"k" > 50L)
  }
  private val jsonExtractOracle: String =
    """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      |FROM events
      |WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) > 50""".stripMargin

  /** Multimodal decode stage with REAL header decode: per customer key
    * a synthetic-but-valid PNG/GIF/JPEG/BMP header (dimensions derived
    * from the key) travels as a binary payload through the typed
    * mapPartitions pipeline; ImageCodec parses the actual bytes back to
    * (format, width, height). The oracle replays the dimension formulas
    * and the per-format header sizes. */
  /** Synthetic image payloads keyed by customer: dims and format are
    * arithmetic in the key, so oracles replay them without bytes. */
  private def synthMedia(spark: SparkSession, dir: String) = {
    import spark.implicits._
    Tables.load(spark, dir, "customer")
      .select($"c_custkey".cast("long")).as[Long].map { ck =>
        val w = (ck % 640 + 1).toInt
        val h = (ck % 480 + 1).toInt
        val bytes = (ck % 4) match {
          case 0 => sources.ImageCodec.synthPng(w, h)
          case 1 => sources.ImageCodec.synthGif(w, h)
          case 2 => sources.ImageCodec.synthJpeg(w, h)
          case _ => sources.ImageCodec.synthBmp(w, h)
        }
        (ck, bytes)
      }
  }

  def binaryMeta(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    sources.Multimodal.decodeAll(synthMedia(spark, dir))
      .select($"mediaId".as("media_id"), $"format",
        $"width".cast("long").as("width"), $"height".cast("long").as("height"),
        $"nBytes".as("n_bytes"))
  }
  private val binaryMetaOracle: String =
    """SELECT c_custkey AS media_id,
      |  CASE c_custkey % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'gif'
      |    WHEN 2 THEN 'jpeg' ELSE 'bmp' END AS format,
      |  CAST(c_custkey % 640 + 1 AS BIGINT) AS width,
      |  CAST(c_custkey % 480 + 1 AS BIGINT) AS height,
      |  CAST(CASE c_custkey % 4 WHEN 0 THEN 33 WHEN 1 THEN 13
      |    WHEN 2 THEN 41 ELSE 54 END AS BIGINT) AS n_bytes
      |FROM customer""".stripMargin

  /** M1v: image near-duplicate detection over REAL decoded pixels — the
    * canonical VLM-corpus image dedup. Per document an 8×8 grayscale
    * 24bpp BMP (luma pattern arithmetic in (doc_id, cell)) travels as an
    * opaque binary payload; `ImageCodec.decodeBmp24` parses the actual
    * pixel bytes back (bottom-up rows, BGR, padding — the real layout);
    * the 64-bit average-hash packs as 4×16-bit bands; near-dups = band
    * equi-join candidates verified at Hamming <= 3 (pigeonhole: <=3 bit
    * flips leave >=1 band identical — never an all-pairs stage, the
    * image twin of d3's simhash blocking).
    *
    * Fixture: class = doc_id % 50 picks the base pattern; one +128 luma
    * spike (mod 256) at cell doc_id % 64 per doc — same-class images
    * differ at <=2 cells, cross-class patterns decorrelate. The oracle
    * replays pattern → mean → bits → bands arithmetically, so the
    * decode path is pinned end to end: any byte-layout bug in the
    * encoder/decoder shifts a luma and breaks the hash compare. */
  /** The encode→decode→aHash band table shared by m1v and its m1vb
    * degree twin. */
  private def imageBands(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "documents")
      .select($"doc_id".cast("long")).as[Long].map { id =>
        val gray = Array.tabulate(64) { k =>
          (((id % 50) * 37 + k.toLong * k * 11 +
            (if (k.toLong == id % 64) 128L else 0L)) % 256L).toInt
        }
        val bytes = sources.ImageCodec.encodeBmp24(8, 8, gray)
        // the real decode path: header + pixel parse of the actual bytes
        val (_, _, luma) = sources.ImageCodec.decodeBmp24(bytes).get
        val b = sources.ImageCodec.aHashBands(luma)
        (id, b(0), b(1), b(2), b(3))
      }.toDF("doc_id", "b0", "b1", "b2", "b3")
  }

  def imageNearDup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val bands = imageBands(spark, dir)
      .persist() // both sides of the band self-join
    val e = bands.select($"doc_id", $"b0", $"b1", $"b2", $"b3",
      posexplode(array($"b0", $"b1", $"b2", $"b3")).as(Seq("j", "v")))
    e.as("a").join(e.as("b"),
        col("a.j") === col("b.j") && col("a.v") === col("b.v") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        (bit_count(col("a.b0").bitwiseXOR(col("b.b0"))) +
          bit_count(col("a.b1").bitwiseXOR(col("b.b1"))) +
          bit_count(col("a.b2").bitwiseXOR(col("b.b2"))) +
          bit_count(col("a.b3").bitwiseXOR(col("b.b3")))).cast("long")
          .as("hamming"))
      .distinct()
      .filter($"hamming" <= 3L)
  }
  /** The aHash band CTE chain (g → hm → bands → e) shared by the m1v
    * oracle and the m1vb degree twin's oracle. */
  private val imageBandCtes: String = {
    def bandSql(j: Int): String =
      s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    [CASE WHEN v[${16 * j} + i + 1] >= mean
         |       THEN (CAST(1 AS BIGINT) << i) ELSE CAST(0 AS BIGINT) END
         |     for i in range(0, 16)]), (a,b)->a+b)""".stripMargin
    s"""g AS (
       |  SELECT doc_id,
       |    [CAST(((doc_id % 50) * 37 + k*k*11 +
       |       CASE WHEN k = doc_id % 64 THEN 128 ELSE 0 END) % 256 AS BIGINT)
       |     for k in range(0, 64)] AS v
       |  FROM documents),
       |hm AS (SELECT doc_id, v,
       |  list_reduce(list_prepend(CAST(0 AS BIGINT), v), (a,b)->a+b) // 64 AS mean
       |  FROM g),
       |bands AS (SELECT doc_id,
       |  ${bandSql(0)} AS b0,
       |  ${bandSql(1)} AS b1,
       |  ${bandSql(2)} AS b2,
       |  ${bandSql(3)} AS b3
       |  FROM hm),
       |e AS (
       |  SELECT doc_id, 0 AS j, b0 AS bv, b0, b1, b2, b3 FROM bands
       |  UNION ALL SELECT doc_id, 1, b1, b0, b1, b2, b3 FROM bands
       |  UNION ALL SELECT doc_id, 2, b2, b0, b1, b2, b3 FROM bands
       |  UNION ALL SELECT doc_id, 3, b3, b0, b1, b2, b3 FROM bands)""".stripMargin
  }

  private val imageNearDupOracle: String = {
    s"""WITH $imageBandCtes,
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    CAST(bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1)) +
       |         bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3))
       |      AS BIGINT) AS hamming
       |  FROM e a JOIN e b
       |    ON a.j = b.j AND a.bv = b.bv AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= 3""".stripMargin
  }

  /** M1vb: per-image CANDIDATE-LOAD diagnostic — the bounded-output
    * twin of m1v (d4b's pattern on the aHash band space): the band
    * self-join is contract-quadratic when near-identical images flood
    * a band bucket, so this twin measures each image's candidate load —
    * the largest band bucket it sits in and the summed bucket sizes
    * (its pair bound). One shuffle on the (band, value) key + one
    * per-image aggregate, linear at any clique size. */
  def imageDegree(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // persist: the bands table (a per-row image encode→decode→aHash
    // pipeline) feeds BOTH the bucket counts and the join probe — the
    // same cache-barrier discipline as imageNearDup and st8b
    val e = imageBands(spark, dir)
      .select($"doc_id",
        posexplode(array($"b0", $"b1", $"b2", $"b3")).as(Seq("j", "v")))
      .persist()
    val counts = e.groupBy($"j", $"v").agg(count(lit(1)).as("n"))
    e.join(counts, Seq("j", "v"))
      .groupBy($"doc_id")
      .agg(max($"n" - 1L).as("max_bucket"), sum($"n" - 1L).as("cand_bound"))
  }
  private val imageDegreeOracle: String =
    s"""WITH $imageBandCtes,
       |counts AS (SELECT j, bv, CAST(COUNT(*) AS BIGINT) AS n
       |  FROM e GROUP BY 1, 2)
       |SELECT doc_id, MAX(n - 1) AS max_bucket,
       |  CAST(SUM(n - 1) AS BIGINT) AS cand_bound
       |FROM e JOIN counts USING (j, bv) GROUP BY doc_id""".stripMargin

  /** The non-image fallback path: documents' UTF-8 text bytes through
    * the same pipeline — unknown format, 0×0, checksum still exact. */
  def mediaFallback(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    sources.Multimodal.documentsAsMedia(Tables.load(spark, dir, "documents"))
      .select($"mediaId".as("media_id"), $"nBytes".as("n_bytes"),
        $"checksum", $"format",
        $"width".cast("long").as("width"), $"height".cast("long").as("height"))
  }
  // the checksum folds UTF-8 BYTES (what the Spark side hashes), so each
  // code point is expanded to its UTF-8 byte sequence arithmetically —
  // engine-identical even for non-ASCII text
  /** Shared oracle CTE body: documents' UTF-8 byte checksum replayed
    * arithmetically (media_id, n_bytes, checksum). */
  private val mediaChecksumCte: String =
    """SELECT doc_id AS media_id,
      |    CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      flatten([
      |        CASE WHEN u < 128 THEN [u]
      |          WHEN u < 2048 THEN [192 + u//64, 128 + u%64]
      |          WHEN u < 65536 THEN [224 + u//4096, 128 + (u//64)%64, 128 + u%64]
      |          ELSE [240 + u//262144, 128 + (u//4096)%64, 128 + (u//64)%64, 128 + u%64]
      |        END
      |        for u in [CAST(unicode(text[i]) AS BIGINT) for i in range(1, len(text)+1)]])),
      |      (a,b) -> (a*31+b) % 2147483647) AS checksum
      |  FROM documents""".stripMargin
  private val mediaFallbackOracle: String =
    s"""WITH m AS (
       |  $mediaChecksumCte)
       |SELECT media_id, n_bytes, checksum, 'unknown' AS format,
       |  CAST(0 AS BIGINT) AS width, CAST(0 AS BIGINT) AS height
       |FROM m""".stripMargin

  /** Real-pixel image fixture for the resize/feature stages: one 24bpp
    * BMP per customer, dims 5..16 × 4..12 (some smaller than the 8-box
    * so the identity branch is exercised too), luma pattern arithmetic
    * in (key, cell) — the same replayable-pattern discipline as m1v. */
  private def synthPixelMedia(spark: SparkSession,
      dir: String): Dataset[(Long, Array[Byte])] = {
    import spark.implicits._
    Tables.load(spark, dir, "customer")
      .select($"c_custkey".cast("long")).as[Long].map { ck =>
        val w = (5 + ck % 12).toInt
        val h = (4 + ck % 9).toInt
        val gray = Array.tabulate(w * h)(k =>
          (((ck % 50) * 37 + k.toLong * k * 11) % 256L).toInt)
        (ck, sources.ImageCodec.encodeBmp24(w, h, gray))
      }
  }
  /** The fixture's (w, h, luma array) as oracle CTEs `m` → `g`. */
  private val pixelMediaCte: String =
    """m AS (SELECT c_custkey AS ck,
      |    CAST(5 + c_custkey % 12 AS BIGINT) AS w,
      |    CAST(4 + c_custkey % 9 AS BIGINT) AS h
      |  FROM customer),
      |g AS (SELECT ck, w, h,
      |  [CAST(((ck % 50) * 37 + k*k*11) % 256 AS BIGINT)
      |   for k in range(0, w*h)] AS v
      |  FROM m)""".stripMargin

  /** M1 resize stage, REAL end to end: decodeBmp24 parses the actual
    * pixel bytes back, fitBox computes the aspect-preserving 8×8-box
    * geometry, and the integer box-filter resample produces the resized
    * luma — digested as (sum, polynomial hash) so the oracle replays
    * every output pixel arithmetically. Images already inside the box
    * pass through as identity (same kernel, 1×1 boxes). */
  def mediaResize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    synthPixelMedia(spark, dir)
      .map { case (id, bytes) => sources.Multimodal.resizeImage(8)(id, bytes) }
      .select($"mediaId".as("media_id"),
        $"width".cast("long").as("width"), $"height".cast("long").as("height"),
        $"targetW".cast("long").as("tw"), $"targetH".cast("long").as("th"),
        $"resizedSum".as("resized_sum"), $"resizedHash".as("resized_hash"))
  }
  private val mediaResizeOracle: String =
    s"""WITH $pixelMediaCte,
       |geo AS (SELECT ck, w, h, v,
       |  CASE WHEN w < 8 AND h < 8 THEN w
       |    WHEN w >= h THEN 8 ELSE GREATEST(1, w*8//h) END AS tw,
       |  CASE WHEN w < 8 AND h < 8 THEN h
       |    WHEN w >= h THEN GREATEST(1, h*8//w) ELSE 8 END AS th
       |  FROM g),
       |r AS (SELECT ck, w, h, tw, th,
       |  [ list_reduce(flatten(
       |      [[v[sy*w + sx + 1]
       |        for sx in range((idx%tw)*w//tw, (idx%tw+1)*w//tw)]
       |       for sy in range((idx//tw)*h//th, (idx//tw+1)*h//th)]),
       |      (a,b)->a+b)
       |    // ( ((idx%tw+1)*w//tw - (idx%tw)*w//tw)
       |       * ((idx//tw+1)*h//th - (idx//tw)*h//th) )
       |    for idx in range(0, tw*th) ] AS rv
       |  FROM geo)
       |SELECT ck AS media_id, w AS width, h AS height, tw, th,
       |  list_reduce(list_prepend(CAST(0 AS BIGINT), rv), (a,b)->a+b)
       |    AS resized_sum,
       |  list_reduce(list_prepend(CAST(0 AS BIGINT), rv),
       |    (a,b)->(a*31+b)%2147483647) AS resized_hash
       |FROM r""".stripMargin

  /** M1 feature-extract stage, REAL: 8-bin luma histogram + total
    * gradient energy over the decoded pixels — brightness distribution
    * and edge content as exactly integer-replayable features (the
    * deterministic stand-in an ML encoder would replace, same
    * fixed-width numeric schema). */
  def mediaFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    synthPixelMedia(spark, dir)
      .map { case (id, bytes) => sources.Multimodal.imageFeatures(id, bytes) }
      .select($"mediaId".as("media_id"), $"h0", $"h1", $"h2", $"h3",
        $"h4", $"h5", $"h6", $"h7", $"gradEnergy".as("grad_energy"))
  }
  private val mediaFeaturesOracle: String = {
    val bins = (0 to 7).map(j =>
      s"CAST(len(list_filter(v, x -> x // 32 = $j)) AS BIGINT) AS h$j")
      .mkString(",\n       |  ")
    s"""WITH $pixelMediaCte
       |SELECT ck AS media_id,
       |  $bins,
       |  list_reduce(list_prepend(CAST(0 AS BIGINT), flatten(
       |    [[abs(v[y*w + x + 2] - v[y*w + x + 1]) for x in range(0, w-1)]
       |     for y in range(0, h)])), (a,b)->a+b)
       |  + list_reduce(list_prepend(CAST(0 AS BIGINT), flatten(
       |    [[abs(v[(y+1)*w + x + 1] - v[y*w + x + 1]) for x in range(0, w)]
       |     for y in range(0, h-1)])), (a,b)->a+b) AS grad_energy
       |FROM g""".stripMargin
  }

  /** M1 frame-sample stage, REAL: synthetic WAVs with arithmetic sample
    * bytes; frames are 64-byte windows of the ACTUAL data chunk, every
    * 4th emitted with the polynomial hash of its real payload bytes —
    * the one-to-many media sampling shape over decoded content. */
  def mediaFrames(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "customer")
      .select($"c_custkey".cast("long")).as[Long].map { ck =>
        val n = (192 + ck % 513).toInt
        val wav = sources.AvCodec.synthWav(8000, 1, 8, n)
        var i = 0
        while (i < n) { // real sample bytes in the data chunk
          wav(44 + i) = ((ck * 31 + i.toLong * 7) % 256L).toByte
          i += 1
        }
        (ck, wav)
      }
      .flatMap { case (id, bytes) =>
        sources.Multimodal.frameSample(4)(id, bytes) }
      .select($"mediaId".as("media_id"), $"frameIdx".as("frame_idx"),
        $"frameHash".as("frame_hash"))
  }
  private val mediaFramesOracle: String =
    """WITH m AS (SELECT c_custkey AS ck,
      |    CAST(192 + c_custkey % 513 AS BIGINT) AS n
      |  FROM customer)
      |SELECT ck AS media_id, CAST(t.i AS BIGINT) AS frame_idx,
      |  list_reduce(list_prepend(CAST(0 AS BIGINT),
      |    [ (ck*31 + j*7) % 256
      |      for j in range(t.i*64, LEAST((t.i+1)*64, n)) ]),
      |    (a,b)->(a*31+b)%2147483647) AS frame_hash
      |FROM m, UNNEST(range(0, (n + 63) // 64, 4)) AS t(i)""".stripMargin

  /** S7: the PMH paged harvest over a deterministic fake feed (pages of
    * 100, newest-first datestamps derived from the customer keys),
    * incremental cutoff at D0500. The crawl is the driver-side token
    * walk (sources.Pmh); the harvested set becomes a Dataset. */
  def pmhWalk(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val n = Tables.load(spark, dir, "customer").count()
    def date(i: Long): String = f"D${1000 - (i % 997)}%04d"
    val feed = (0L until n).sortBy(i => (i % 997, i)) // keys are 0-based
      .map(i => sources.Pmh.Header(s"r$i", date(i)))
    val pages = feed.grouped(100).toVector
    val src = new sources.Pmh.PageSource {
      def fetch(token: Option[String]): (Seq[sources.Pmh.Header], Option[String]) = {
        val idx = token.map(_.toInt).getOrElse(0)
        val next = if (idx + 1 < pages.size) Some((idx + 1).toString) else None
        (pages(idx), next)
      }
    }
    sources.Pmh.toDataset(spark, sources.Pmh.crawl(src, "D0500"))
      .toDF("change", "ident", "datestamp")
  }
  private val pmhWalkOracle: String =
    """SELECT 'update' AS change, 'r' || c_custkey AS ident,
      |  'D' || lpad(CAST(1000 - c_custkey % 997 AS VARCHAR), 4, '0') AS datestamp
      |FROM customer WHERE c_custkey % 997 <= 500""".stripMargin

  /** S4/S5: the archive-dir loader over a generated type/uu/uuid.json
    * tree (a [[Fixtures.onDisk]] fixture, written once per sf-dir):
    * path-derived identifiers, deleted-record (short body) skip,
    * cache-through anti-join against already-loaded ids (keys % 10 ==
    * 0), schema'd JSON parse. The fixture itself is written EXECUTOR-SIDE in
    * parallel (spark.range + foreachPartition): at the 10× stress scale
    * that is 150k files, and the old driver-side writeString loop was
    * the measured 44 s bulk of this query's sf1 cost — fixture
    * scaffolding masquerading as loader time. (Local-FS only: the
    * fixture is test scaffolding; a real dump already exists on shared
    * storage.) */
  def archiveLoad(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val n = Tables.load(spark, dir, "customer").count()
    val base = Fixtures.onDisk("archive", dir, s"$n") { base =>
      val basePath = base.getAbsolutePath
      // pre-create the 30 shared type/uu dirs once (mkdirs is
      // idempotent but cheap to hoist off the per-file path)
      for (t <- 0 to 2; u <- 0 to 9)
        new java.io.File(base, s"t$t/u$u").mkdirs()
      spark.range(0L, n).foreachPartition {
        (it: Iterator[java.lang.Long]) =>
        while (it.hasNext) {
          val i = it.next().longValue()
          val body =
            if (i % 13 == 0) "{}" // prior deletion: short body
            else s"""{"id": $i, "v": ${i % 7}, "pad": "xxxxxxxxxxxxxxxx"}"""
          java.nio.file.Files.writeString(java.nio.file.Paths.get(
            basePath, s"t${i % 3}", s"u${i % 10}", s"$i.json"), body)
        }
      }
    }
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", LongType)))
    val cached = Tables.load(spark, dir, "customer")
      .filter($"c_custkey" % 10 === 0)
      .select(concat(lit("t"), $"c_custkey" % 3, lit("/u"), $"c_custkey" % 10,
        lit("/"), $"c_custkey", lit(".json")).as("ident"))
    sources.Archive.loadDir(spark, base.getAbsolutePath, schema, Some(cached))
      .select($"ident", $"data.id".as("id"), $"data.v".as("v"))
  }
  private val archiveLoadOracle: String =
    """SELECT 't' || (c_custkey % 3) || '/u' || (c_custkey % 10) || '/'
      |    || c_custkey || '.json' AS ident,
      |  CAST(c_custkey AS BIGINT) AS id,
      |  CAST(c_custkey % 7 AS BIGINT) AS v
      |FROM customer
      |WHERE c_custkey % 13 <> 0 AND c_custkey % 10 <> 0""".stripMargin

  /** S2: the zip-of-JSON dump loader — 32 generated zips holding the
    * same type/uu/uuid.json tree as s4 (distinct key space), unzipped
    * executor-side per archive. No cache table: the dump load is the
    * cold path. Sharded to core count and WRITTEN executor-side (one
    * task per archive) so both the fixture build and the load
    * demonstrate loadZips' real unit of parallelism — per archive,
    * exactly how a production dump shards; the old 4-zip fixture
    * serialized the stress-scale load onto 4 tasks. */
  def zipLoad(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val n = Tables.load(spark, dir, "customer").count()
    val shards = 32
    val base = Fixtures.onDisk("zips", dir, s"${n}_$shards") { base =>
      val basePath = base.getAbsolutePath
      spark.range(0L, shards.toLong).foreach { zBoxed =>
        val z = zBoxed.longValue()
        val zout = new java.util.zip.ZipOutputStream(
          new java.io.FileOutputStream(
            new java.io.File(basePath, s"dump$z.zip")))
        (0L until n).filter(_ % shards == z).foreach { i =>
          zout.putNextEntry(new java.util.zip.ZipEntry(s"z${i % 3}/u${i % 10}/$i.json"))
          val body =
            if (i % 13 == 0) "{}"
            else s"""{"id": $i, "v": ${i % 7}, "pad": "xxxxxxxxxxxxxxxx"}"""
          zout.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          zout.closeEntry()
        }
        zout.close()
      }
    }
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", LongType)))
    sources.Archive.loadZips(spark, base.getAbsolutePath, schema)
      .select($"ident", $"data.id".as("id"), $"data.v".as("v"))
  }
  private val zipLoadOracle: String =
    """SELECT 'z' || (c_custkey % 3) || '/u' || (c_custkey % 10) || '/'
      |    || c_custkey || '.json' AS ident,
      |  CAST(c_custkey AS BIGINT) AS id,
      |  CAST(c_custkey % 7 AS BIGINT) AS v
      |FROM customer WHERE c_custkey % 13 <> 0""".stripMargin

  /** S8: the fetcher pass over a deterministic transport — invalid ids
    * dropped (keys % 13), networkmap redirects re-template (% 5 → key+1),
    * recorded failures re-request, transport 404s (% 7 of the effective
    * key) surface as networkmap updates, 200s parse to envelopes. */
  def fetchPass(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val template = (id: String) => s"https://api.example/rec/$id"
    val keyOf = (s: String) => s.replaceAll("\\D", "").toLong
    val ids = Tables.load(spark, dir, "customer")
      .select(concat(lit("rec"), $"c_custkey").as("i")).as[String]
    val nm = Tables.load(spark, dir, "customer")
      .select(concat(lit("https://api.example/rec/rec"), $"c_custkey").as("url"),
        when($"c_custkey" % 5 === 0, concat(lit("rec"), $"c_custkey" + 1))
          .when($"c_custkey" % 11 === 0, lit("404"))
          .otherwise(lit(null)).as("resp"))
      .filter($"resp".isNotNull)
    val transport = (url: String) => {
      val k = keyOf(url)
      if (k % 7 == 0) (404, null) else (200, s"""{"v": $k}""")
    }
    val out = sources.Fetcher.fetchAll(ids, template,
      id => keyOf(id) % 13 != 0, nm, transport)
    val schema = StructType(Seq(StructField("v", LongType)))
    out.toDF()
      .select($"kind", $"identifier", $"url", $"status".cast("long").as("status"),
        from_json($"body", schema).getField("v").as("v"))
  }
  private val fetchPassOracle: String =
    """WITH b AS (
      |  SELECT c_custkey AS ck,
      |    CASE WHEN c_custkey % 5 = 0 THEN c_custkey + 1 ELSE c_custkey END AS n
      |  FROM customer WHERE c_custkey % 13 <> 0)
      |SELECT CASE WHEN n % 7 = 0 THEN 'err' ELSE 'ok' END AS kind,
      |  'rec' || ck AS identifier,
      |  'https://api.example/rec/rec' || n AS url,
      |  CAST(CASE WHEN n % 7 = 0 THEN 404 ELSE 200 END AS BIGINT) AS status,
      |  CASE WHEN n % 7 = 0 THEN NULL ELSE CAST(n AS BIGINT) END AS v
      |FROM b""".stripMargin

  /** M1 audio/video: the A/V sibling of m1_binary_meta — per customer
    * key a synthetic-but-valid WAV/MP4/OGG container (fields derived
    * from the key) travels as binary through the typed map stage;
    * AvCodec parses the actual bytes back: WAV rate/channels AND
    * duration from the data chunk over the byte rate, MP4 brand AND —
    * on the video-shaped half — width/height from the moov/trak/tkhd
    * box walk plus duration from mvhd (the other half stays bare-ftyp,
    * keeping the headers-only path exercised). The oracle replays the
    * field formulas. Same 100 TB shape as m1: map-only, binary column +
    * typed metadata, partition-parallel. */
  def avMeta(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.load(spark, dir, "customer")
      .select($"c_custkey".cast("long")).as[Long].map { ck =>
        val bytes = (ck % 3) match {
          case 0 =>
            val rate = 8000 * (1 + (ck % 5)).toInt
            val ch = (ck % 2 + 1).toInt
            // byteRate = rate*ch*2 is divisible by 40, so dataBytes =
            // byteRate/40*(1+ck%5) makes duration EXACTLY 25*(1+ck%5) ms
            sources.AvCodec.synthWav(rate, ch, 16,
              dataBytes = rate * ch * 2 / 40 * (1 + (ck % 5)).toInt)
          case 1 =>
            val brand = Seq("isom", "mp42", "avc1")((ck % 9 / 3).toInt)
            if (ck % 6 == 1) sources.AvCodec.synthMp4Video(brand,
              160 + 16 * (ck % 20).toInt, 90 + 9 * (ck % 20).toInt,
              500L * (1 + ck % 8))
            else sources.AvCodec.synthMp4(brand)
          case _ => sources.AvCodec.synthOgg((ck % 100000).toInt)
        }
        val info = sources.AvCodec.parse(bytes).get
        (ck, info.container, info.sampleRate.toLong, info.channels.toLong,
          info.brand, info.width.toLong, info.height.toLong, info.durationMs)
      }.toDF("media_id", "container", "sample_rate", "channels", "brand",
        "width", "height", "duration_ms")
  }
  private val avMetaOracle: String =
    """SELECT c_custkey AS media_id,
      |  CASE c_custkey % 3 WHEN 0 THEN 'wav' WHEN 1 THEN 'mp4' ELSE 'ogg' END AS container,
      |  CAST(CASE WHEN c_custkey % 3 = 0
      |    THEN 8000 * (1 + c_custkey % 5) ELSE 0 END AS BIGINT) AS sample_rate,
      |  CAST(CASE WHEN c_custkey % 3 = 0
      |    THEN c_custkey % 2 + 1 ELSE 0 END AS BIGINT) AS channels,
      |  CASE WHEN c_custkey % 3 = 1 THEN
      |    CASE c_custkey % 9 // 3 WHEN 0 THEN 'isom' WHEN 1 THEN 'mp42' ELSE 'avc1' END
      |  WHEN c_custkey % 3 = 2 THEN CAST(c_custkey % 100000 AS VARCHAR)
      |  END AS brand,
      |  CAST(CASE WHEN c_custkey % 6 = 1
      |    THEN 160 + 16 * (c_custkey % 20) ELSE 0 END AS BIGINT) AS width,
      |  CAST(CASE WHEN c_custkey % 6 = 1
      |    THEN 90 + 9 * (c_custkey % 20) ELSE 0 END AS BIGINT) AS height,
      |  CAST(CASE WHEN c_custkey % 3 = 0 THEN 25 * (1 + c_custkey % 5)
      |    WHEN c_custkey % 6 = 1 THEN 500 * (1 + c_custkey % 8)
      |    ELSE 0 END AS BIGINT) AS duration_ms
      |FROM customer""".stripMargin

  /** S5: the DNB dump loader quirks (`sources/libraries/dnb/loader.py`):
    * the dump is ONE JSON array pretty-printed one record per line, so
    * each line is stripped of its leading `[`/`,` (and the closing `]`
    * line dropped) before parsing (`load`, `:62-76`); the record id is
    * scanned out of the RAW line (`get_identifier_raw`, `:17-21` — the
    * columnar analog is regexp_extract before from_json) so cached ids
    * skip JSON parsing entirely; and a subject-headings file
    * ("sachbegriff", irregular nested-list JSON-LD, `:31-53`) is merged
    * into the cache FIRST, excluding `…about` ids — dump records for
    * already-cached ids are skipped (cache-through, here an anti-join).
    * The fixture writes both files in the reference's exact shapes. */
  def dnbLoad(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val n = Tables.load(spark, dir, "customer").count()
    val base = Fixtures.onDisk("dnb", dir, s"$n") { base =>
      def rec(ck: Long, name: String, about: Boolean) =
        s"""{"@id":"https://d-nb.info/gnd/$ck${if (about) "/about" else ""}","preferredName":"$name"}"""
      val dumpLines =
        (s"[${rec(0, "d0", about = false)}" +:
          (1L until n).map(ck => s",${rec(ck, s"d${ck % 40}", about = false)}")) :+ "]"
      val sachObjs = (0L until n).filter(_ % 11 == 0).map(ck =>
        rec(ck, s"s${ck % 40}", about = ck % 33 == 0))
      // the reference's irregular nesting: pairs in inner lists, a
      // trailing odd object bare
      val sachJson = sachObjs.grouped(2).map {
        case Seq(a, b) => s"[$a,$b]"
        case Seq(a)    => a
      }.mkString("[", ",", "]")
      java.nio.file.Files.writeString(new java.io.File(base, "dump.json").toPath,
        dumpLines.mkString("\n"))
      java.nio.file.Files.writeString(
        new java.io.File(base, "sachbegriff.json").toPath, sachJson)
    }
    val schema = StructType(Seq(
      StructField("@id", org.apache.spark.sql.types.StringType),
      StructField("preferredName", org.apache.spark.sql.types.StringType)))
    // subject headings first: flatten the irregular nesting by scanning
    // the (flat) objects out of the one-line document — the columnar
    // form of the reference's outer/inner type-dispatch walk
    val sach = spark.read.option("wholetext", "true")
      .text(new java.io.File(base, "sachbegriff.json").getAbsolutePath)
      .select(explode(regexp_extract_all($"value", lit("\\{[^}]*\\}"), lit(0))).as("obj"))
      .select(from_json($"obj", schema).as("r"))
      .filter(col("r").getField("@id").contains("/d-nb.info/gnd/") &&
        !col("r").getField("@id").endsWith("about"))
      .select(regexp_extract(col("r").getField("@id"), "/gnd/([^\"]+)$", 1).as("ident"),
        lit("sachbegriff").as("origin"),
        col("r").getField("preferredName").as("name"))
    val dump = spark.read
      .text(new java.io.File(base, "dump.json").getAbsolutePath)
      .select(regexp_replace(trim($"value"), "^[\\[,]", "").as("clean"))
      .withColumn("ident",
        regexp_extract($"clean", "\"@id\":\"https://d-nb\\.info/gnd/([^\"]+)\"", 1))
      .filter($"ident" =!= "") // drops the bare ']' line
      .join(sach.select($"ident"), Seq("ident"), "left_anti") // cache-through
      .select($"ident", lit("dump").as("origin"),
        from_json($"clean", schema).getField("preferredName").as("name"))
    sach.unionByName(dump)
  }
  private val dnbLoadOracle: String =
    """WITH b AS (SELECT c_custkey AS ck FROM customer),
      |sach AS (
      |  SELECT ck, 's' || (ck % 40) AS name FROM b
      |  WHERE ck % 11 = 0 AND ck % 33 <> 0)
      |SELECT CAST(ck AS VARCHAR) AS ident, 'sachbegriff' AS origin, name FROM sach
      |UNION ALL
      |SELECT CAST(ck AS VARCHAR) AS ident, 'dump' AS origin,
      |  'd' || (ck % 40) AS name
      |FROM b WHERE NOT (ck % 11 = 0 AND ck % 33 <> 0)""".stripMargin

  final case class LcLinkOut(id: Long, link_ident: String, link_tgt: String,
      skipped: Boolean, raw_ident: String)

  /** S5 (lc): the LC loader quirks (`lc/loader.py:7-91`) — the
    * externallinks.nt sideload (Close/Exact predicates only, subject
    * prefix gate), the raw-line `"@id":` identifier extraction, and
    * the record skips (`-781` geographic subdivisions,
    * NamesUndifferentiated members). Finishes the loader family's
    * named per-source quirks. */
  def lcLinks(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.pipeline.LcNames
    Tables.load(spark, dir, "customer")
      .select(col("c_custkey").cast("long"))
      .as[Long].map { ck =>
        val subj = s"<http://id.loc.gov/authorities/names/n${ck % 100}>"
        val tgt = s"<http://viaf.org/viaf/${ck % 500}>"
        val line = (ck % 4) match {
          case 0 => s"$subj <http://www.loc.gov/mads/rdf/v1#hasCloseExternalAuthority> $tgt ."
          case 1 => s"$subj <http://www.loc.gov/mads/rdf/v1#hasExactExternalAuthority> $tgt ."
          case 2 => s"$subj <http://www.loc.gov/mads/rdf/v1#hasNarrowerExternalAuthority> $tgt ."
          case _ => s"<http://other.example/x$ck> <http://www.loc.gov/mads/rdf/v1#hasCloseExternalAuthority> $tgt ."
        }
        val link = LcNames.externalLink(line)
        val ident = if (ck % 5 == 0) s"n$ck-781" else s"n$ck"
        val colls =
          if (ck % 7 == 0)
            Seq("http://id.loc.gov/authorities/names/collection_LCNAF",
              "http://id.loc.gov/authorities/names/collection_NamesUndifferentiated")
          else Seq("http://id.loc.gov/authorities/names/collection_LCNAF")
        val raw = LcNames.rawIdentifier(
          s"""{"x": 1, "@id": "http://id.loc.gov/authorities/names/n${ck % 100}"}""")
        LcLinkOut(ck, link.map(_._1).orNull, link.map(_._2).orNull,
          LcNames.skipRecord(ident, colls), raw.orNull)
      }.toDF()
  }
  private val lcLinksOracle: String =
    """WITH b AS (SELECT c_custkey AS ck FROM customer)
      |SELECT ck AS id,
      |  CASE WHEN ck % 4 <= 1 THEN 'n' || (ck % 100) ELSE NULL END AS link_ident,
      |  CASE WHEN ck % 4 <= 1
      |    THEN 'http://viaf.org/viaf/' || (ck % 500) ELSE NULL END AS link_tgt,
      |  (ck % 5 = 0 OR ck % 7 = 0) AS skipped,
      |  'n' || (ck % 100) AS raw_ident
      |FROM b""".stripMargin

  /** One evolved-layout fixture per (session, sf dir) in a
    * [[Fixtures.tempDir]]: generation 1 written with the v1 schema,
    * generation 2 with an added column. */
  private[graft] def evolutionDir(spark: SparkSession, dir: String): String =
    Fixtures.once(spark, "evolution", dir) {
      import spark.implicits._
      val base = Fixtures.tempDir("graft_evo_").getPath
      val o = Tables.load(spark, dir, "orders")
      o.filter($"o_orderkey" % 2 === 0)
        .select($"o_orderkey", $"o_custkey")
        .write.mode("overwrite").parquet(s"$base/gen=1")
      o.filter($"o_orderkey" % 2 === 1)
        .select($"o_orderkey", $"o_custkey",
          round($"o_totalprice" * 100).cast("long").as("price_cents"))
        .write.mode("overwrite").parquet(s"$base/gen=2")
      base
    }

  /** One two-commit snapshot fixture per (session, sf dir) in a
    * [[Fixtures.tempDir]]: commit 1 writes a third of orders, its file
    * list is captured as the v1 manifest, then commit 2 APPENDS the rest
    * into the same directory. */
  private[graft] def snapshotFixture(
      spark: SparkSession, dir: String): (String, Seq[String]) =
    Fixtures.once(spark, "snapshot", dir) {
      import spark.implicits._
      val base = Fixtures.tempDir("graft_snap_").getPath
      val o = Tables.load(spark, dir, "orders")
        .select($"o_orderkey",
          round($"o_totalprice" * 100).cast("long").as("cents"))
      o.filter($"o_orderkey" % 3 === 0).write.mode("overwrite").parquet(base)
      // the v1 manifest: the exact files of commit 1 — a snapshot is a
      // FILE LIST, captured at commit time (a driver-side metadata op,
      // like any table-format manifest)
      val v1 = new java.io.File(base).listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .map(_.getAbsolutePath).toSeq.sorted
      o.filter($"o_orderkey" % 3 =!= 0).write.mode("append").parquet(base)
      (base, v1)
    }

  /** S22: snapshot-pinned read via a file manifest — the time-travel /
    * isolation read every table format (Iceberg/Delta/Hudi) is built
    * on: a reader that plans from the v1 manifest sees EXACTLY commit
    * 1, even though commit 2's files already sit in the same directory;
    * a directory-listing reader sees the current state. At 100 TB this
    * is the difference between a consistent training corpus and one
    * that shifts under a running job — and the manifest read is also
    * the retraceability story: the file list IS the dataset version.
    * Output: one row per read mode; the v1 row must replay commit 1's
    * aggregate exactly. */
  def manifestSnapshot(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (base, v1) = snapshotFixture(spark, dir)
    def snap(df: DataFrame, name: String) =
      df.agg(count(lit(1)).as("n_rows"),
          sum($"cents").cast("long").as("cents_sum"),
          max($"o_orderkey").cast("long").as("max_key"))
        .select(lit(name).as("snapshot"), $"n_rows", $"cents_sum", $"max_key")
    snap(spark.read.parquet(v1: _*), "v1")
      .union(snap(spark.read.parquet(base), "current"))
  }
  private val manifestSnapshotOracle: String =
    """SELECT 'v1' AS snapshot, COUNT(*) AS n_rows,
      |  CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |    AS cents_sum,
      |  CAST(MAX(o_orderkey) AS BIGINT) AS max_key
      |FROM orders WHERE o_orderkey % 3 = 0
      |UNION ALL
      |SELECT 'current', COUNT(*),
      |  CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT),
      |  CAST(MAX(o_orderkey) AS BIGINT)
      |FROM orders""".stripMargin

  /** S17: schema-evolution-tolerant scan — the ingest reality at 100 TB:
    * a long-lived parquet dataset where later generations added columns.
    * `mergeSchema` reconciles the per-file footers into one superset
    * schema; rows from pre-evolution files read the new column as null
    * (counted here per generation, with null-safe aggregation), and the
    * generation partition column still prunes (spec-pinned) — adding a
    * column never forces a rewrite of the old petabytes. */
  def schemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.read.option("mergeSchema", "true").parquet(evolutionDir(spark, dir))
      .groupBy($"gen".cast("long").as("gen"))
      .agg(count(lit(1)).as("n_rows"),
        count($"price_cents").as("n_with_price"),
        sum(coalesce($"price_cents", lit(0L))).cast("long")
          .as("price_cents_sum"))
  }
  private val schemaEvolutionOracle: String =
    """SELECT CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 2 END AS gen,
      |  COUNT(*) AS n_rows,
      |  CAST(SUM(CASE WHEN o_orderkey % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_with_price,
      |  CAST(SUM(CASE WHEN o_orderkey % 2 = 1
      |    THEN CAST(ROUND(o_totalprice * 100) AS BIGINT) ELSE 0 END) AS BIGINT)
      |    AS price_cents_sum
      |FROM orders GROUP BY 1""".stripMargin

  override def register(): Unit = {
    Queries.register(QueryDef("s17_schema_evolution", schemaEvolution,
      Some(schemaEvolutionOracle)))
    Queries.register(QueryDef("s22_manifest_snapshot", manifestSnapshot,
      Some(manifestSnapshotOracle)))
    Queries.register(QueryDef("s5_lc_links", lcLinks, Some(lcLinksOracle)))
    Queries.register(QueryDef("s5_dnb", dnbLoad, Some(dnbLoadOracle)))
    Queries.register(QueryDef("m1d_av_meta", avMeta, Some(avMetaOracle)))
    Queries.register(QueryDef("s3_json_extract", jsonExtract, Some(jsonExtractOracle)))
    Queries.register(QueryDef("m1_binary_meta", binaryMeta, Some(binaryMetaOracle)))
    Queries.register(QueryDef("m1e_resize", mediaResize, Some(mediaResizeOracle)))
    Queries.register(QueryDef("m1f_features", mediaFeatures, Some(mediaFeaturesOracle)))
    Queries.register(QueryDef("m1g_frame_sample", mediaFrames, Some(mediaFramesOracle)))
    Queries.register(QueryDef("m1b_media_fallback", mediaFallback, Some(mediaFallbackOracle)))
    Queries.register(QueryDef("m1v_image_neardup", imageNearDup, Some(imageNearDupOracle)))
    Queries.register(QueryDef("m1vb_image_degree", imageDegree,
      Some(imageDegreeOracle)))
    Queries.register(QueryDef("s7_pmh_walk", pmhWalk, Some(pmhWalkOracle)))
    Queries.register(QueryDef("s4_archive_load", archiveLoad, Some(archiveLoadOracle)))
    Queries.register(QueryDef("s2_zip_load", zipLoad, Some(zipLoadOracle)))
    Queries.register(QueryDef("s8_fetch_pass", fetchPass, Some(fetchPassOracle)))
    Queries.register(QueryDef("s6_as_walk", asWalk, Some(asWalkOracle)))
    Queries.register(QueryDef("s5_geonames_tsv", geonamesTsv, Some(geonamesTsvOracle)))
    Queries.register(QueryDef("s5_wof", wofLoad, Some(wofLoadOracle)))
  }

  /** S5: the WOF sqlite dump loader (`wof/fetcher.py:34-57`) — a
    * generated single-table sqlite file (geojson(id, body)) scanned
    * executor-side by the self-contained page parser (`sources.Sqlite`),
    * bodies parsed with an explicit schema, plus the chunked network
    * URL each record would fall back to (`:17-31`, `WdClaims.wofUrl`).
    * Even keys get 8-digit ids, odd keys 9-digit — exercising the
    * remainder-tail chunk. Every 97th body carries an 8 KB pad field
    * (real WOF geojson routinely exceeds a page), so the fixture's db
    * contains genuine overflow-page chains and the oracle gate
    * exercises the chain-stitching read path — the pad is outside the
    * extraction schema, so the oracle SQL is unchanged. */
  def wofLoad(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val n = Tables.load(spark, dir, "customer").count()
    // (v2: fixture format version — bumped for the overflow pads so
    // stale fixture dirs from earlier rounds regenerate)
    val base = Fixtures.onDisk("wof", dir, s"v2_$n") { base =>
      val rows = (0L until n).map { ck =>
        val id = if (ck % 2 == 0) 10000000L + ck else 100000000L + ck
        val pt = Seq("locality", "region", "country")((ck % 3).toInt)
        val pad = if (ck % 97 == 0) s""", "pad": "${"w" * 8000}"""" else ""
        Seq(id.toString,
          s"""{"wof:name": "p${ck % 60}", "wof:placetype": "$pt"$pad}""": Any)
      }
      sources.Sqlite.writeDb(new java.io.File(base, "wof.db"), "geojson",
        "CREATE TABLE geojson (id TEXT, body TEXT)", rows)
    }
    val schema = StructType(Seq(
      StructField("wof:name", org.apache.spark.sql.types.StringType),
      StructField("wof:placetype", org.apache.spark.sql.types.StringType)))
    val wofUrl = udf((id: String) => graft.pipeline.WdClaims.wofUrl(id))
    sources.Sqlite.loadTable(spark,
        new java.io.File(base, "wof.db").getAbsolutePath, "geojson")(r =>
        (r(0).asInstanceOf[String], r(1).asInstanceOf[String]))
      .toDF("ident", "body")
      .select($"ident", wofUrl($"ident").as("url"),
        from_json($"body", schema).as("data"))
      .select($"ident", $"url", col("data.`wof:name`").as("name"),
        col("data.`wof:placetype`").as("ptype"))
  }
  private val wofLoadOracle: String =
    """WITH b AS (
      |  SELECT c_custkey AS ck,
      |    CASE WHEN c_custkey % 2 = 0
      |      THEN CAST(10000000 + c_custkey AS VARCHAR)
      |      ELSE CAST(100000000 + c_custkey AS VARCHAR) END AS ident
      |  FROM customer)
      |SELECT ident,
      |  'https://data.whosonfirst.org/' || substr(ident, 1, 3) || '/'
      |    || substr(ident, 4, 3) || '/' || substr(ident, 7, 3) || '/'
      |    || ident || '.geojson' AS url,
      |  'p' || (ck % 60) AS name,
      |  CASE ck % 3 WHEN 0 THEN 'locality' WHEN 1 THEN 'region'
      |    ELSE 'country' END AS ptype
      |FROM b""".stripMargin

  /** S5: the geonames TSV loader over a generated allCountries +
    * hierarchy fixture — primary/alternate names (primary filtered out
    * of the alternates), POINT geometry with the reference's spacing,
    * broadcast hierarchy parents. */
  def geonamesTsv(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val n = Tables.load(spark, dir, "customer").count()
    val base = Fixtures.onDisk("geonames", dir, s"$n") { base =>
      val all = (0L until n).map { i =>
        val (lat, lng) =
          if (i % 9 == 0) ("", "") else (s"${i % 90}.25", s"${i % 180}.5")
        s"$i\tPlace$i\tPlace$i\tAlt${i % 50},Place$i\t$lat\t$lng"
      }.mkString("\n")
      java.nio.file.Files.writeString(
        new java.io.File(base, "allCountries.txt").toPath, all)
      val hier = (0L until n).filter(_ % 10 != 0)
        .map(i => s"${i - i % 10}\t$i\tADM").mkString("\n")
      java.nio.file.Files.writeString(
        new java.io.File(base, "hierarchy.txt").toPath, hier)
    }
    sources.Geonames.load(spark,
        new java.io.File(base, "allCountries.txt").getAbsolutePath,
        new java.io.File(base, "hierarchy.txt").getAbsolutePath, "gn:")
      .select($"ident", $"primary", concat_ws(",", $"alt_names").as("alt_csv"),
        $"wkt", $"parent_ident")
  }
  private val geonamesTsvOracle: String =
    """SELECT 'gn:' || c_custkey AS ident,
      |  'Place' || c_custkey AS primary,
      |  'Alt' || (c_custkey % 50) AS alt_csv,
      |  CASE WHEN c_custkey % 9 <> 0
      |    THEN 'POINT ( ' || (c_custkey % 180) || '.5 ' || (c_custkey % 90) || '.25 )'
      |  END AS wkt,
      |  CASE WHEN c_custkey % 10 <> 0
      |    THEN 'gn:' || (c_custkey - c_custkey % 10) END AS parent_ident
      |FROM customer""".stripMargin

  /** S6: the AS page walk over a deterministic fake stream — items in
    * stream order (endTime ascending), pages of 80 walked last→first,
    * identifiers recycled mod 800 so the seen-dedupe keeps newest,
    * mixed change types (bogus → update, case-normalized), mixed URI
    * schemes smushed to the http namespace, cutoff at E0300. */
  def asWalk(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val n = Tables.load(spark, dir, "customer").count()
    val ns = "http://ex.org/data/"
    def item(i: Long): sources.AsStream.AsItem = {
      val scheme = if (i % 2 == 0) "https://" else "http://"
      val chg = (i % 5) match {
        case 0 => "update" case 1 => "create" case 2 => "delete"
        case 3 => "bogus" case _ => "Move"
      }
      sources.AsStream.AsItem(chg, s"${scheme}ex.org/data/r${i % 800}",
        f"E${i}%04d")
    }
    val pages = (0L until n).map(item).grouped(80).toVector
    val src = new sources.AsStream.PageSource {
      def lastPage: Option[String] =
        if (pages.isEmpty) None else Some((pages.size - 1).toString)
      def page(id: String): (Seq[sources.AsStream.AsItem], Option[String]) = {
        val i = id.toInt
        (pages(i), if (i > 0) Some((i - 1).toString) else None)
      }
    }
    sources.Pmh.toDataset(spark,
        sources.AsStream.crawl(src, ns, "E0300")
          .map(h => sources.Pmh.Harvested(h.change, h.ident, h.datestamp)))
      .toDF("change", "ident", "datestamp")
  }
  private val asWalkOracle: String =
    """WITH p AS (SELECT COUNT(*) AS n FROM customer),
      |m AS (SELECT c_custkey AS k FROM customer, p WHERE c_custkey < 800),
      |w AS (SELECT k,
      |    CASE WHEN k + 800 <= (SELECT n - 1 FROM p) THEN k + 800 ELSE k END AS wi
      |  FROM m)
      |SELECT CASE wi % 5 WHEN 0 THEN 'update' WHEN 1 THEN 'create'
      |    WHEN 2 THEN 'delete' WHEN 3 THEN 'update' ELSE 'move' END AS change,
      |  'r' || k AS ident,
      |  CASE WHEN wi % 5 = 2 THEN ''
      |    ELSE 'E' || lpad(CAST(wi AS VARCHAR), 4, '0') END AS datestamp
      |FROM w WHERE wi >= 300""".stripMargin
}
