package graft.queries

import graft.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Dataset, SparkSession}

/** Multimodal-column plumbing (north-star surface): media as opaque
  * `binary` payloads + typed metadata, decoded per partition.
  *
  * The decode seam is two-tier: blobs carrying a real PNG/JPEG stream are
  * decoded by the GENUINE pure-JDK codec ([[MediaDecode.decodeImage]] —
  * javax.imageio, no external deps); anything else falls back to the
  * deterministic header-byte stand-in ([[MediaDecode.decodeStub]]). The
  * fixture corpus synthesizes blobs from `documents.text` (md5 → 16
  * bytes, never a valid image stream), so the oracle replays the stub
  * branch from the hex string while `MultimodalSpec` drives real encoded
  * images through the codec branch. Everything Spark-side is shared by
  * both branches: the binary column, the metadata struct schema, the
  * `Dataset[T]` `mapPartitions` batch shape (one decoder init per
  * partition, streamed rows — exactly how a JNI/FFmpeg decoder would be
  * mounted), and the frame-sampling explode.
  */
object Multimodal {

  /** The typed shape a real pipeline would carry. */
  final case class MediaRecord(doc_id: Long, blob: Array[Byte], fmt: String)
  final case class DecodedMeta(doc_id: Long, width: Int, height: Int,
      n_pixels: Int, aspect: Double)
  final case class ResizedMeta(doc_id: Long, width: Int, height: Int,
      thumb_w: Int, thumb_h: Int, scale_micro: Long)
  final case class MediaFeatures(doc_id: Long, f: Array[Int])

  object MediaDecode {
    /** Real codec path: PNG/JPEG dimensions via pure-JDK ImageIO. A
      * cheap magic-byte sniff gates the (expensive) decoder attempt, so
      * non-image rows pay two byte compares, not a codec init. Returns
      * None when the blob is not a decodable image — then the
      * deterministic [[decodeStub]] applies. */
    def decodeImage(blob: Array[Byte]): Option[(Int, Int)] =
      decodeBuffered(blob).map(i => (i.getWidth, i.getHeight))

    /** The full decoded image (codec branch only) — shared by the dims
      * path above and the feature extractor, same magic-byte gate. */
    def decodeBuffered(
        blob: Array[Byte]): Option[java.awt.image.BufferedImage] = {
      val isPng = blob.length > 24 && (blob(0) & 0xff) == 0x89 &&
        blob(1) == 'P'.toByte && blob(2) == 'N'.toByte && blob(3) == 'G'.toByte
      val isJpeg = blob.length > 4 && (blob(0) & 0xff) == 0xff &&
        (blob(1) & 0xff) == 0xd8
      if (!isPng && !isJpeg) None
      else
        try Option(javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(blob)))
        // untrusted bytes: a crafted image may throw anything, fatal too
        catch { case _: Throwable => None }
    }

    /** DECODE STUB — the deterministic fallback for non-image blobs
      * (the fixture's md5-derived bytes). Reads "header" bytes 0 and 1
      * as width/height, exactly reproducible in SQL from the md5 hex. */
    def decodeStub(blob: Array[Byte]): (Int, Int) = {
      val w = (blob(0) & 0xff) + 1
      val h = (blob(1) & 0xff) + 1
      (w, h)
    }

    /** Codec-then-stub: the single decode entry point both the query
      * path and the spec fixtures go through. */
    def decode(blob: Array[Byte]): (Int, Int) =
      decodeImage(blob).getOrElse(decodeStub(blob))

    /** Per-partition decode: init once per partition (the expensive codec
      * handle), stream rows through it — the mapPartitions batch shape. */
    def decodePartitions(ds: Dataset[MediaRecord]): Dataset[DecodedMeta] = {
      import ds.sparkSession.implicits._
      ds.mapPartitions { it =>
        // decoder init would happen here, once per partition
        it.map { m =>
          val (w, h) = decode(m.blob)
          DecodedMeta(m.doc_id, w, h, w * h, w.toDouble / h)
        }
      }
    }

    /** Thumbnail-fit geometry: downscale (never upscale) to fit
      * `target`, aspect-preserving, ceil-rounded so neither edge
      * collapses to 0 — all integer math, identical for the codec and
      * stub branches (the SQL oracle replays it from the stub dims).
      * Returns (thumb_w, thumb_h, scale_micro). */
    def fitDims(w: Int, h: Int, target: Int): (Int, Int, Long) = {
      val mx = math.max(w, h)
      if (mx <= target) (w, h, 1000000L)
      else ((target * w + mx - 1) / mx, (target * h + mx - 1) / mx,
        target.toLong * 1000000L / mx)
    }

    /** FEATURE EXTRACTION — the embed-images pass of a multimodal
      * pipeline, as an 8-dim integer descriptor per media row. Codec
      * branch: real decoded geometry + luminance samples at 5 fixed
      * grid points + their mean (deterministic — decoded pixels are).
      * Stub branch (the fixture corpus): the first 8 header bytes, so
      * the SQL oracle replays the vector from the md5 hex. Both
      * branches emit the same schema into the same downstream
      * similarity machinery — swapping in a real CLIP/ViT encoder
      * changes this function body and nothing else. */
    def extractFeatures(blob: Array[Byte]): Array[Int] =
      decodeBuffered(blob) match {
        case Some(img) =>
          val (w, h) = (img.getWidth, img.getHeight)
          def luma(x: Int, y: Int): Int = {
            val rgb = img.getRGB(x, y)
            (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 +
              (rgb & 0xff) * 114) / 1000
          }
          val grid = Array(luma(0, 0), luma(w - 1, 0), luma(0, h - 1),
            luma(w - 1, h - 1), luma(w / 2, h / 2))
          Array(w, h) ++ grid :+ (grid.sum / grid.length)
        case None =>
          // zero-pad: fixture blobs are 16 md5 bytes, but the seam
          // must survive arbitrary short payloads
          Array.tabulate(8)(j => if (j < blob.length) blob(j) & 0xff else 0)
      }

    /** Per-partition extractor: one encoder init per partition, rows
      * streamed — the batch shape a real embedding model needs. */
    def featurePartitions(
        ds: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
      import ds.sparkSession.implicits._
      ds.mapPartitions { it =>
        // encoder/model init would happen here, once per partition
        it.map(m => MediaFeatures(m.doc_id, extractFeatures(m.blob)))
      }
    }

    /** Per-partition RESIZE — the thumbnailing pass of a multimodal
      * ingest pipeline (north-star "resize" op). The GEOMETRY (decode →
      * fit → scale factor) is fully real on both branches; the pixel
      * resample itself is the stub seam, exactly like [[decode]]'s
      * pixel work — a real build drops its SIMD/JNI resampler into this
      * mapPartitions body (init once per partition, stream rows) and
      * nothing upstream or downstream changes. */
    def resizePartitions(ds: Dataset[MediaRecord],
        target: Int): Dataset[ResizedMeta] = {
      import ds.sparkSession.implicits._
      ds.mapPartitions { it =>
        // resampler init would happen here, once per partition
        it.map { m =>
          val (w, h) = decode(m.blob)
          val (tw, th, sc) = fitDims(w, h, target)
          ResizedMeta(m.doc_id, w, h, tw, th, sc)
        }
      }
    }
  }

  /** documents → (doc_id, blob binary, fmt) media frame. */
  private def media(s: SparkSession, d: String) =
    Tables.documents(s, d).select(
      col("doc_id"),
      unhex(md5(col("text"))).as("blob"),
      when(col("source") === "src0", "png")
        .when(col("source") === "src1", "jpeg")
        .otherwise("webp").as("fmt"))

  // ------------------------------------------------------------- q60
  // Binary column + metadata struct, all relational (no decode): the
  // storage/schema layer of a multimodal table. The binary column lives
  // INSIDE the query (length/hex are computed from it); the output
  // projects its hex form — the driver's pandas oracle gate cannot
  // hash/sort raw bytes (round-1 q60 failure).
  private val q60 = QueryDef.of(
    (s, d) => media(s, d)
      .select(col("doc_id"), hex(col("blob")).as("blob_hex"), col("fmt"),
        length(col("blob")).as("n_bytes"),
        substring(hex(col("blob")), 1, 8).as("magic"))
      .orderBy(col("doc_id")),
    """SELECT doc_id, upper(md5(text)) AS blob_hex,
      |  CASE WHEN source = 'src0' THEN 'png'
      |       WHEN source = 'src1' THEN 'jpeg'
      |       ELSE 'webp' END AS fmt,
      |  octet_length(unhex(md5(text))) AS n_bytes,
      |  upper(substring(md5(text), 1, 8)) AS magic
      |FROM documents
      |ORDER BY doc_id""".stripMargin)

  // ------------------------------------------------------------- q61
  // The typed mapPartitions decode path (Dataset[MediaRecord] →
  // Dataset[DecodedMeta]); stub decode, real batch shape.
  private val q61 = QueryDef.of(
    (s, d) => {
      import s.implicits._
      MediaDecode.decodePartitions(media(s, d).as[MediaRecord])
        .toDF().orderBy(col("doc_id"))
    },
    """SELECT doc_id,
      |  CAST('0x' || substring(md5(text), 1, 2) AS INT) + 1 AS width,
      |  CAST('0x' || substring(md5(text), 3, 2) AS INT) + 1 AS height,
      |  (CAST('0x' || substring(md5(text), 1, 2) AS INT) + 1)
      |    * (CAST('0x' || substring(md5(text), 3, 2) AS INT) + 1) AS n_pixels,
      |  CAST(CAST('0x' || substring(md5(text), 1, 2) AS INT) + 1 AS DOUBLE)
      |    / (CAST('0x' || substring(md5(text), 3, 2) AS INT) + 1) AS aspect
      |FROM documents
      |ORDER BY doc_id""".stripMargin)

  // ------------------------------------------------------------- q62
  // Frame sampling: treat the blob as 16 one-byte "frames", keep every
  // 4th (posexplode → filter). The generator/explode shape of video
  // pipelines: one input row fans out to a bounded frame set.
  private val q62 = QueryDef.of(
    (s, d) => media(s, d)
      .select(col("doc_id"),
        posexplode(expr(
          "transform(sequence(0, 15), i -> cast(conv(substring(hex(blob), i*2+1, 2), 16, 10) as int))"))
          .as(Seq("frame_idx", "frame_val")))
      .filter(col("frame_idx") % 4 === 0)
      .orderBy(col("doc_id"), col("frame_idx")),
    """SELECT doc_id, i AS frame_idx,
      |  CAST('0x' || substring(md5(text), i*2+1, 2) AS INT) AS frame_val
      |FROM documents CROSS JOIN generate_series(0, 15) AS t(i)
      |WHERE i % 4 = 0
      |ORDER BY doc_id, frame_idx""".stripMargin)

  // ------------------------------------------------------------- q108
  // Perceptual-hash media dedup: the image-dedup pass of a multimodal
  // training pipeline (re-crawled/re-encoded copies of the same image
  // must collapse even when their bytes differ). The aHash recipe over
  // the decoded 60-"pixel" thumbnail — bit j set iff pixel j is brighter
  // than the thumbnail mean — with the thumbnail synthesized
  // deterministically from the doc text (md5 chain, the [[MediaDecode]]
  // stub seam: a real build swaps in resize-to-8×8-grayscale and NOTHING
  // downstream changes). Near-dup = Hamming ≤ 3 over the 60-bit hash via
  // q80's machinery: 4×15-bit bands (pigeonhole-exact) → shared
  // [[Dedup.bucketPairs]] → xor+bit_count verify. The fixture corpus has
  // no re-encoded copies, so the media set embeds doc_id-derived
  // positives (q68 precedent): an exact duplicate blob for every
  // doc_id ≡ 7 (mod 50) and a one-bit-perturbed re-encode for
  // doc_id ≡ 19 (mod 50); random 60-bit hashes collide within Hamming 3
  // with probability ~3e-14 per pair, so the output is exactly the
  // planted structure (plus any true text dups).
  // Scale shape: hash is a per-row map; shuffle carries
  // (band, 15-bit key, id); verify joins 8-byte hashes, never blobs.
  private val q108 = QueryDef.of(
    (s, d) => {
      val phash = graft.Resources.retain(Tables.documents(s, d)
        .select(col("doc_id"), col("text"))
        .withColumn("thumb", concat(md5(col("text")),
          md5(concat(col("text"), lit("r1"))),
          md5(concat(col("text"), lit("r2"))),
          md5(concat(col("text"), lit("r3")))))
        .withColumn("bytes", expr(
          "transform(sequence(0, 59), j -> " +
            "cast(conv(substring(thumb, 2 * j + 1, 2), 16, 10) as int))"))
        .withColumn("mean", expr("aggregate(bytes, 0, (a, x) -> a + x) div 60"))
        .select(col("doc_id"), expr(
          """aggregate(sequence(0, 59), 0L, (acc, j) ->
            |  acc + CASE WHEN get(bytes, j) > mean
            |             THEN shiftleft(1L, j) ELSE 0L END)""".stripMargin)
          .as("ph"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val dups = phash.filter(col("doc_id") % 50 === 7)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("ph"))
      val reenc = phash.filter(col("doc_id") % 50 === 19)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          expr("ph ^ shiftleft(1L, cast(doc_id % 60 as int))").as("ph"))
      val allm = phash.unionByName(dups).unionByName(reenc)
      val bandedM = allm.select(col("doc_id"), expr(
        """explode(array_distinct(transform(sequence(0, 3), b ->
          |  struct(b AS band, shiftright(ph, 15 * b) & 32767 AS bkey))))"""
          .stripMargin).as("bb"))
        .select(col("doc_id"), col("bb.band").as("band"),
          col("bb.bkey").as("bkey"))
      Dedup.bucketPairs(bandedM)
        .join(allm.select(col("doc_id").as("doc1"), col("ph").as("ph1")), "doc1")
        .join(allm.select(col("doc_id").as("doc2"), col("ph").as("ph2")), "doc2")
        .withColumn("hamming", expr("cast(bit_count(ph1 ^ ph2) as int)"))
        .filter(col("hamming") <= 3)
        .select(col("doc1"), col("doc2"), col("hamming"))
        .orderBy(col("doc1"), col("doc2"))
    },
    s"""WITH th AS (
      |  SELECT doc_id, md5(text) || md5(text || 'r1') || md5(text || 'r2')
      |    || md5(text || 'r3') AS thumb
      |  FROM documents),
      |pb AS (
      |  SELECT doc_id, list_transform(range(0, 60),
      |    j -> CAST('0x' || substring(thumb, 2 * j + 1, 2) AS BIGINT)) AS bytes
      |  FROM th),
      |pm AS (SELECT doc_id, bytes, list_sum(bytes) // 60 AS mean FROM pb),
      |phash AS (
      |  SELECT doc_id,
      |    CAST(list_sum(list_transform(range(0, 60), j ->
      |      CASE WHEN bytes[j + 1] > mean THEN (CAST(1 AS BIGINT) << j)
      |           ELSE 0 END)) AS BIGINT) AS ph
      |  FROM pm),
      |allm AS (
      |  SELECT doc_id, ph FROM phash
      |  UNION ALL
      |  SELECT doc_id + 1000000, ph FROM phash WHERE doc_id % 50 = 7
      |  UNION ALL
      |  SELECT doc_id + 2000000,
      |    xor(ph, CAST(1 AS BIGINT) << CAST(doc_id % 60 AS INT))
      |  FROM phash WHERE doc_id % 50 = 19),
      |banded AS (
      |  SELECT doc_id, b.b AS band, (ph >> (15 * b.b)) & 32767 AS bkey
      |  FROM allm CROSS JOIN generate_series(0, 3) AS b(b)),
      |bcap AS (
      |  SELECT doc_id, band, bkey FROM (
      |    SELECT doc_id, band, bkey, ROW_NUMBER() OVER (
      |      PARTITION BY band, bkey ORDER BY doc_id) AS rn
      |    FROM banded) WHERE rn <= ${Dedup.MaxBucket}),
      |cand AS (
      |  SELECT DISTINCT x.doc_id AS doc1, y.doc_id AS doc2
      |  FROM bcap x JOIN bcap y
      |    ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id)
      |SELECT doc1, doc2, CAST(bit_count(xor(a.ph, b.ph)) AS INT) AS hamming
      |FROM cand JOIN allm a ON cand.doc1 = a.doc_id
      |          JOIN allm b ON cand.doc2 = b.doc_id
      |WHERE bit_count(xor(a.ph, b.ph)) <= 3
      |ORDER BY doc1, doc2""".stripMargin)

  // ------------------------------------------------------------ q139
  // Media RESIZE (thumbnail-fit) — the remaining north-star multimodal
  // op next to decode (q61), frame-sample (q62) and phash-dedup (q108):
  // fit every image into a 64×64 box, downscale-only, aspect-preserving,
  // ceil-rounded. The geometry is exact integer math shared verbatim by
  // the real-codec branch (MultimodalSpec drives a real PNG through and
  // checks the decoded dims feed the same formula) and the stub branch
  // the fixture corpus exercises, so the DuckDB oracle replays every
  // output column from the md5 header bytes; the pixel resample itself
  // is the documented stub seam (see resizePartitions). Scale shape:
  // one narrow mapPartitions pass (resampler init per partition), no
  // shuffle until the output contract's doc_id sort.
  private val q139 = QueryDef.of(
    (s, d) => {
      import s.implicits._
      val resized = MediaDecode.resizePartitions(
        media(s, d).as[MediaRecord], target = 64)
      resized.toDF().orderBy(col("doc_id"))
    },
    """WITH m AS (
      |  SELECT doc_id,
      |    CAST('0x' || substring(md5(text), 1, 2) AS INT) + 1 AS width,
      |    CAST('0x' || substring(md5(text), 3, 2) AS INT) + 1 AS height
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, width, height,
      |    greatest(width, height) AS mx
      |  FROM m)
      |SELECT doc_id, width, height,
      |  CAST(CASE WHEN mx <= 64 THEN width
      |       ELSE (64 * width + mx - 1) // mx END AS INT) AS thumb_w,
      |  CAST(CASE WHEN mx <= 64 THEN height
      |       ELSE (64 * height + mx - 1) // mx END AS INT) AS thumb_h,
      |  CAST(CASE WHEN mx <= 64 THEN 1000000
      |       ELSE (64 * 1000000) // mx END AS BIGINT) AS scale_micro
      |FROM g
      |ORDER BY doc_id""".stripMargin)

  // ------------------------------------------------------------ q140
  // Media FEATURE-EXTRACT + similarity search — the embed-and-retrieve
  // composition of a multimodal pipeline: the per-partition extractor
  // (see [[MediaDecode.extractFeatures]]) produces an 8-dim integer
  // descriptor per media row, and a broadcast probe set (5 docs) ranks
  // the corpus by exact integer dot product, top-3 per probe. All
  // arithmetic is BIGINT (8 products of bytes ≤ 255² each — no
  // overflow, no float fold), ties broken by neighbor_id, so the
  // oracle replays the descriptor from the md5 header bytes and the
  // ranking exactly. Scale shape: q40's contract — probes broadcast,
  // the corpus scan never shuffles, top-k is a per-probe window over
  // the scored stream.
  private val q140 = QueryDef.of(
    (s, d) => {
      import s.implicits._
      val feats = MediaDecode.featurePartitions(
        media(s, d).as[MediaRecord]).toDF("doc_id", "f")
      // probes are encoded from the pre-filtered media frame: a filter
      // above featurePartitions cannot push through the typed map, so
      // filtering `feats` would run the (expensive) extractor over the
      // whole corpus a second time just to keep 5 rows
      val probes = MediaDecode.featurePartitions(
          media(s, d).filter(col("doc_id") < 5).as[MediaRecord])
        .toDF("doc_id", "f")
        .select(col("doc_id").as("probe_id"), col("f").as("pf"))
      val scoredM = feats.join(broadcast(probes),
          col("doc_id") =!= col("probe_id"))
        .withColumn("dot", expr(
          "aggregate(zip_with(pf, f, (x, y) -> cast(x as bigint) * y)," +
            " 0L, (a, v) -> a + v)"))
      val w = Window.partitionBy(col("probe_id"))
        .orderBy(col("dot").desc, col("doc_id"))
      scoredM.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("probe_id"), col("rank"),
          col("doc_id").as("neighbor_id"), col("dot"))
        .orderBy(col("probe_id"), col("rank"))
    },
    { // dot spelled out over the 8 md5 header bytes of both sides
      def byte(src: String, j: Int) =
        s"CAST('0x' || substring(md5($src.text), ${2 * j + 1}, 2) AS BIGINT)"
      val dot = (0 until 8)
        .map(j => s"(${byte("p", j)} * ${byte("c", j)})").mkString(" + ")
      s"""WITH sc AS (
         |  SELECT p.doc_id AS probe_id, c.doc_id AS neighbor_id,
         |    $dot AS dot
         |  FROM documents p JOIN documents c ON c.doc_id <> p.doc_id
         |  WHERE p.doc_id < 5),
         |ranked AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
         |    ORDER BY dot DESC, neighbor_id) AS rank
         |  FROM sc)
         |SELECT probe_id, rank, neighbor_id, dot
         |FROM ranked WHERE rank <= 3
         |ORDER BY probe_id, rank""".stripMargin
    })

  // ------------------------------------------------------------ q193
  // CROSS-HASH media near-dup agreement — the q117-style report for the
  // perceptual-hash family: run TWO independent hashes over the same
  // decoded thumbnail stream (aHash = brighter-than-mean, q108's recipe;
  // dHash = horizontal gradient sign, the other standard perceptual
  // hash) and measure where their near-dup flag sets agree. A single
  // perceptual hash has blind spots (aHash is mean-shift sensitive,
  // dHash ignores absolute brightness); the agreement/union matrix per
  // pair class is the evidence a pipeline owner needs before trusting
  // either alone — the media twin of q117's lexical savings report and
  // q174's rater-agreement κ.
  //
  // The planted structure extends q108's: an exact byte-duplicate for
  // every doc_id ≡ 7 (mod 50) and a RE-ENCODE for doc_id ≡ 19 (mod 50)
  // that perturbs THREE thumbnail bytes by +96 (mod 256) — perturbing
  // the BYTES (not the hash, as q108 did) so both hashes see the same
  // re-encode through their own lens: dHash takes up to two flipped
  // gradient bits per perturbed byte (can exceed the Hamming-3 gate),
  // aHash takes mean-shift plus mean-crossing flips (sometimes exceeds
  // it too, differently) — the disagreement cells are structurally
  // non-trivial, not decorative.
  //
  // Scale shape: ONE corpus scan builds the (doc_id, ah, dh) frame
  // (persisted; hashes are 8-byte longs); candidates come from banding
  // BOTH hashes (4×15-bit bands each, band ids disjoint — pigeonhole-
  // exact for Hamming ≤ 3 per hash, so the union candidate set covers
  // every pair either hash flags) through the shared [[Dedup
  // .bucketPairs]] cap; verification joins hashes by id, never bytes;
  // the report is one pair-class aggregate. Shuffles carry
  // (band, 15-bit key, id) and 16 bytes of hash per pair — blobs and
  // thumbnails never leave the map side (the decode-seam contract,
  // PlanAudit-pinned).
  private val q193 = QueryDef.of(
    (s, d) => {
      val pb = Tables.documents(s, d)
        .select(col("doc_id"), col("text"))
        .withColumn("thumb", concat(md5(col("text")),
          md5(concat(col("text"), lit("r1"))),
          md5(concat(col("text"), lit("r2"))),
          md5(concat(col("text"), lit("r3")))))
        .withColumn("bytes", expr(
          "transform(sequence(0, 59), j -> " +
            "cast(conv(substring(thumb, 2 * j + 1, 2), 16, 10) as int))"))
        .select(col("doc_id"), col("bytes"))
      val dups = pb.filter(col("doc_id") % 50 === 7)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("bytes"))
      // delta per index is order-independent (96 × #matching positions;
      // positions may coincide — then the byte takes the summed delta)
      val reenc = pb.filter(col("doc_id") % 50 === 19)
        .select((col("doc_id") + 2000000L).as("doc_id"), expr(
          """transform(sequence(0, 59), j -> cast(
            |  (get(bytes, j) + 96 * (
            |    (CASE WHEN j = cast(doc_id % 60 AS INT) THEN 1 ELSE 0 END) +
            |    (CASE WHEN j = cast((doc_id * 7) % 60 AS INT) THEN 1 ELSE 0 END) +
            |    (CASE WHEN j = cast((doc_id * 13) % 60 AS INT) THEN 1 ELSE 0 END)
            |  )) % 256 as int))""".stripMargin).as("bytes"))
      val hashes = graft.Resources.retain(
        pb.unionByName(dups).unionByName(reenc)
          .withColumn("mean",
            expr("aggregate(bytes, 0, (a, x) -> a + x) div 60"))
          .select(col("doc_id"),
            expr(
              """aggregate(sequence(0, 59), 0L, (acc, j) ->
                |  acc + CASE WHEN get(bytes, j) > mean
                |             THEN shiftleft(1L, j) ELSE 0L END)"""
                .stripMargin).as("ah"),
            expr(
              """aggregate(sequence(0, 58), 0L, (acc, j) ->
                |  acc + CASE WHEN get(bytes, j + 1) > get(bytes, j)
                |             THEN shiftleft(1L, j) ELSE 0L END)"""
                .stripMargin).as("dh"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      // band ids 0-3 slice ah, 4-7 slice dh — one bucket machinery,
      // disjoint key spaces, candidates deduped by bucketPairs
      def bandsOf(hcol: String, off: Int) =
        hashes.select(col("doc_id"), expr(
          s"""explode(transform(sequence(0, 3), b -> struct(
             |  b + $off AS band,
             |  shiftright($hcol, 15 * b) & 32767 AS bkey)))""".stripMargin)
          .as("bb"))
          .select(col("doc_id"), col("bb.band").as("band"),
            col("bb.bkey").as("bkey"))
      Dedup.bucketPairs(bandsOf("ah", 0).unionByName(bandsOf("dh", 4)))
        .join(hashes.select(col("doc_id").as("doc1"),
          col("ah").as("ah1"), col("dh").as("dh1")), "doc1")
        .join(hashes.select(col("doc_id").as("doc2"),
          col("ah").as("ah2"), col("dh").as("dh2")), "doc2")
        .withColumn("ham_a", expr("cast(bit_count(ah1 ^ ah2) as int)"))
        .withColumn("ham_d", expr("cast(bit_count(dh1 ^ dh2) as int)"))
        .filter(col("ham_a") <= 3 || col("ham_d") <= 3)
        .withColumn("pair_class",
          when(col("doc2") >= 2000000L, "reencoded")
            .when(col("doc2") >= 1000000L, "exact_dup")
            .otherwise("organic"))
        .withColumn("fa", when(col("ham_a") <= 3, 1L).otherwise(0L))
        .withColumn("fd", when(col("ham_d") <= 3, 1L).otherwise(0L))
        .groupBy(col("pair_class"))
        .agg(count(lit(1)).as("n_union"),
          sum(col("fa") * col("fd")).as("n_both"),
          sum(col("fa") * (lit(1L) - col("fd"))).as("n_a_only"),
          sum((lit(1L) - col("fa")) * col("fd")).as("n_d_only"),
          sum(when(col("fa") === 1L, col("ham_a").cast("long"))
            .otherwise(0L)).as("sum_ham_a_flagged"),
          sum(when(col("fd") === 1L, col("ham_d").cast("long"))
            .otherwise(0L)).as("sum_ham_d_flagged"))
        .orderBy(col("pair_class"))
    },
    s"""WITH th AS (
      |  SELECT doc_id, md5(text) || md5(text || 'r1') || md5(text || 'r2')
      |    || md5(text || 'r3') AS thumb
      |  FROM documents),
      |pb AS MATERIALIZED (
      |  SELECT doc_id, list_transform(range(0, 60),
      |    j -> CAST('0x' || substring(thumb, 2 * j + 1, 2) AS BIGINT)) AS bytes
      |  FROM th),
      |allm AS (
      |  SELECT doc_id, bytes FROM pb
      |  UNION ALL
      |  SELECT doc_id + 1000000, bytes FROM pb WHERE doc_id % 50 = 7
      |  UNION ALL
      |  SELECT doc_id + 2000000, list_transform(range(0, 60), j ->
      |      (bytes[j + 1] + 96 * (
      |        (CASE WHEN j = doc_id % 60 THEN 1 ELSE 0 END) +
      |        (CASE WHEN j = (doc_id * 7) % 60 THEN 1 ELSE 0 END) +
      |        (CASE WHEN j = (doc_id * 13) % 60 THEN 1 ELSE 0 END))) % 256)
      |  FROM pb WHERE doc_id % 50 = 19),
      |hm AS (SELECT doc_id, bytes, list_sum(bytes) // 60 AS mean FROM allm),
      |hashes AS MATERIALIZED (
      |  SELECT doc_id,
      |    CAST(list_sum(list_transform(range(0, 60), j ->
      |      CASE WHEN bytes[j + 1] > mean THEN (CAST(1 AS BIGINT) << j)
      |           ELSE 0 END)) AS BIGINT) AS ah,
      |    CAST(list_sum(list_transform(range(0, 59), j ->
      |      CASE WHEN bytes[j + 2] > bytes[j + 1] THEN (CAST(1 AS BIGINT) << j)
      |           ELSE 0 END)) AS BIGINT) AS dh
      |  FROM hm),
      |banded AS (
      |  SELECT doc_id, h.h * 4 + b.b AS band,
      |    ((CASE WHEN h.h = 0 THEN ah ELSE dh END) >> (15 * b.b)) & 32767
      |      AS bkey
      |  FROM hashes CROSS JOIN generate_series(0, 1) AS h(h)
      |    CROSS JOIN generate_series(0, 3) AS b(b)),
      |bcap AS (
      |  SELECT doc_id, band, bkey FROM (
      |    SELECT doc_id, band, bkey, ROW_NUMBER() OVER (
      |      PARTITION BY band, bkey ORDER BY doc_id) AS rn
      |    FROM banded) WHERE rn <= ${Dedup.MaxBucket}),
      |cand AS (
      |  SELECT DISTINCT x.doc_id AS doc1, y.doc_id AS doc2
      |  FROM bcap x JOIN bcap y
      |    ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
      |ver AS (
      |  SELECT doc1, doc2,
      |    CAST(bit_count(xor(a.ah, b.ah)) AS INT) AS ham_a,
      |    CAST(bit_count(xor(a.dh, b.dh)) AS INT) AS ham_d
      |  FROM cand JOIN hashes a ON cand.doc1 = a.doc_id
      |            JOIN hashes b ON cand.doc2 = b.doc_id),
      |fl AS (
      |  SELECT CASE WHEN doc2 >= 2000000 THEN 'reencoded'
      |              WHEN doc2 >= 1000000 THEN 'exact_dup'
      |              ELSE 'organic' END AS pair_class,
      |    ham_a, ham_d,
      |    CASE WHEN ham_a <= 3 THEN 1 ELSE 0 END AS fa,
      |    CASE WHEN ham_d <= 3 THEN 1 ELSE 0 END AS fd
      |  FROM ver WHERE ham_a <= 3 OR ham_d <= 3)
      |SELECT pair_class,
      |  CAST(COUNT(*) AS BIGINT) AS n_union,
      |  CAST(SUM(fa * fd) AS BIGINT) AS n_both,
      |  CAST(SUM(fa * (1 - fd)) AS BIGINT) AS n_a_only,
      |  CAST(SUM((1 - fa) * fd) AS BIGINT) AS n_d_only,
      |  CAST(SUM(CASE WHEN fa = 1 THEN ham_a ELSE 0 END) AS BIGINT)
      |    AS sum_ham_a_flagged,
      |  CAST(SUM(CASE WHEN fd = 1 THEN ham_d ELSE 0 END) AS BIGINT)
      |    AS sum_ham_d_flagged
      |FROM fl GROUP BY pair_class
      |ORDER BY pair_class""".stripMargin)

  val defs: Map[String, QueryDef] = Map(
    "q140_media_features" -> q140,
    "q139_media_resize" -> q139,
    "q60_multimodal_meta" -> q60,
    "q61_multimodal_decode" -> q61,
    "q62_frame_sample" -> q62,
    "q108_media_phash_neardup" -> q108,
    "q193_media_cross_hash" -> q193)
}
