package graft.operators

import graft.{Oracle, Q, QueryModule}
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: opaque `binary` payloads + typed metadata.
  *
  * Decode is REAL: graft.functions.ImageCodec is a pure-JVM parser for
  * PNG (IHDR + zlib IDAT, all five scanline filters, CRC-verified) and
  * 24-bit BMP (bottom-up rows, 4-byte padding) — no external codec
  * libraries, only the JDK's bundled zlib. The Spark-side shape is the
  * one a 100 TB media pipeline needs: binary column, partition-parallel
  * decode (`decodeBatch` — mapPartitions, not a per-row UDF), and a
  * hash-gated roundtrip query. Payloads are synthesized from `text`
  * (the driver tables carry no media), but the synthesized containers
  * are REAL files: ImageCodecSpec cross-checks them against the JDK's
  * independent ImageIO reader byte-for-byte.
  */
object Multimodal extends QueryModule {

  /** Partition-parallel decode with the batch shape a real codec needs:
    * `mapPartitions`, NOT a per-row UDF — per-row invocation re-pays
    * codec/context init on every image and (for a Python codec) one IPC
    * round-trip per row, which is exactly what dies first at 100 TB of
    * media; the iterator shape amortizes init per PARTITION and streams
    * rows without materializing the batch. Input rows are (id: long,
    * payload: binary); the decoded columns append after the passthroughs. */
  def decodeBatch(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val idCol = df.columns.head
    df.select(col(idCol).cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, payload) =>
          val d = graft.functions.ImageCodec.decode(payload)
          (id, payload, d.width, d.height, d.channels, d.format)
        }
      }
      .toDF(idCol, "payload", "width", "height", "channels", "format")
  }

  /** Raster width q_multimodal uses per container. PNG is grayscale at
    * 32 px; BMP is RGB at 15 px — 15·3 = 45 bytes/row is NOT 4-byte
    * aligned, so the BMP row-padding path sits on the gated surface. */
  val PngWidth = 32
  val BmpWidth = 15

  /** q_multimodal: REAL encode→decode roundtrip, hash-gated. Each doc's
    * UTF-8 bytes become the pixel samples of a deterministic raster
    * (zero-padded to whole rows), encoded as a REAL container — PNG
    * (grayscale; the encoder cycles ALL FIVE scanline filters, so every
    * de-filter branch is on the gated path) for even doc_ids, 24-bit BMP
    * (bottom-up, padded rows) for odd — then decoded back with the
    * pure-JVM parser, emitting decode-derived width/height/pixel
    * statistics. The DuckDB oracle never sees a container: it predicts
    * the decoded stats arithmetically from the text (width fixed, height
    * = ceil(bytes/rowSamples), sample sum = sum of the ASCII codes —
    * padding contributes zero), so ANY defect in filter inversion,
    * padding, row order, channel order or the inflate path breaks the
    * hash. Scale shape: one mapPartitions pass, no shuffle. */
  def qMultimodal(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // ASCII-only guard (byte count == char count): the oracle predicts
    // the pixel sum via per-CHARACTER ascii() codes, which equals the
    // UTF-8 byte sum only for ASCII text — true of the driver corpora
    // today, filtered explicitly so a future non-ASCII corpus shrinks
    // the gated set instead of hash-breaking it
    val base = Tables.documents(s, dir)
      .select(col("doc_id"), col("text").cast("binary").as("payload"),
        length(col("text")).as("n_chars_t"))
      .filter(octet_length(col("payload")) > 0 &&
        octet_length(col("payload")) === col("n_chars_t"))
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
    val decoded = base.mapPartitions { it =>
      it.map { case (id, bytes) =>
        // id % 4 routes every decoder family onto the gated path:
        // 0 → gray8 PNG, 1 → 24-bit BMP, 2 → PALETTE PNG (type 3, the
        // dominant web-crawl variant; bytes are PLTE indices and the
        // oracle predicts the EXPANDED RGB sum through the palette
        // formula), 3 → 16-BIT gray PNG ((b<<8|b) samples whose
        // high-byte downsample reproduces b, so the sum is unchanged)
        val img = (id % 4) match {
          case 0 =>
            val (h, px) = graft.functions.ImageCodec.bytesToRaster(bytes, PngWidth, 1)
            graft.functions.ImageCodec.encodePng(PngWidth, h, 1, px)
          case 2 =>
            val (h, px) = graft.functions.ImageCodec.bytesToRaster(bytes, PngWidth, 1)
            graft.functions.ImageCodec.encodePalettePng(PngWidth, h, GatedPalette, px)
          case 3 =>
            val (h, px) = graft.functions.ImageCodec.bytesToRaster(bytes, PngWidth, 1)
            graft.functions.ImageCodec.encodePng16(PngWidth, h, 1, px)
          case _ =>
            val (h, px) = graft.functions.ImageCodec.bytesToRaster(bytes, BmpWidth, 3)
            graft.functions.ImageCodec.encodeBmp(BmpWidth, h, px)
        }
        val d = graft.functions.ImageCodec.decode(img)
        var sum = 0L
        var i = 0
        while (i < d.pixels.length) { sum += d.pixels(i) & 0xFF; i += 1 }
        (id, bytes.length.toLong, d.format, d.width, d.height,
          d.width.toLong * d.height, sum, d.channels)
      }
    }.toDF("doc_id", "n_bytes", "format", "width", "height", "n_px",
      "px_sum", "ch")
    decoded.select(col("doc_id"), col("n_bytes"), col("format"),
      col("width"), col("height"), col("n_px"), col("px_sum"),
      round(col("px_sum").cast("double") /
        (col("n_px") * col("ch")).cast("double"), 6).as("px_mean"))
  }

  /** The gated palette (entry i → (i, 255−i, i xor 0x5A)): injective in
    * every channel direction and arithmetically predictable — the oracle
    * computes the expanded-RGB pixel sum as
    * Σ(255 + (index xor 90)) over all pixels, padding included. */
  private[graft] val GatedPalette: Array[Byte] = Array.tabulate(768) { j =>
    val i = j / 3
    (j % 3 match {
      case 0 => i
      case 1 => 255 - i
      case 2 => i ^ 0x5A
    }).toByte
  }

  private val qMultimodalSql =
    s"""WITH b AS (
         SELECT doc_id, CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n,
           CAST(list_sum(list_transform(
             range(1, CAST(octet_length(CAST(text AS BLOB)) AS INT) + 1),
             i -> ascii(substring(text, CAST(i AS INT), 1)))) AS BIGINT) AS s,
           CAST(list_sum(list_transform(
             range(1, CAST(octet_length(CAST(text AS BLOB)) AS INT) + 1),
             i -> xor(ascii(substring(text, CAST(i AS INT), 1)), 90)))
             AS BIGINT) AS sx
         FROM documents WHERE octet_length(CAST(text AS BLOB)) > 0
           AND octet_length(CAST(text AS BLOB)) = length(text)),
       g AS (
         SELECT doc_id, n, s, sx,
           CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'bmp'
             WHEN 2 THEN 'png8p' ELSE 'png16' END AS format,
           CASE WHEN doc_id % 4 = 1 THEN $BmpWidth ELSE $PngWidth END AS width,
           CASE WHEN doc_id % 4 = 1 THEN (n + ${BmpWidth * 3 - 1}) // ${BmpWidth * 3}
                ELSE (n + ${PngWidth - 1}) // $PngWidth END AS height,
           CASE WHEN doc_id % 4 IN (1, 2) THEN 3 ELSE 1 END AS channels
         FROM b),
       p AS (
         SELECT doc_id, n, format, width, height, channels,
           -- palette docs expand index i to (i, 255-i, i xor 90): the
           -- decoded sum is 255*n_px + sum(index xor 90), where the
           -- (width*height - n) zero pads contribute 90 each
           CASE WHEN doc_id % 4 = 2
             THEN 255 * width * height + sx + 90 * (width * height - n)
             ELSE s END AS px_sum
         FROM g)
       SELECT doc_id, n AS n_bytes, format,
         CAST(width AS INT) AS width, CAST(height AS INT) AS height,
         CAST(width * height AS BIGINT) AS n_px,
         CAST(px_sum AS BIGINT) AS px_sum,
         round(CAST(px_sum AS DOUBLE) /
           CAST(width * height * channels AS DOUBLE), 6) AS px_mean
       FROM p"""

  /** q_multimodal_frames: frame-sampling plumbing — K evenly spaced
    * fixed-size byte windows per payload (the shape of video frame-sampling
    * with the codec stubbed out): offset arithmetic + binary substring +
    * digest, all codegen, one explode per payload. The oracle slices the
    * VARCHAR twin — payloads are ASCII by construction, so byte and char
    * windows coincide (DuckDB has no BLOB substring). */
  def qMultimodalFrames(s: SparkSession, dir: String): DataFrame = {
    val k = 4
    val win = 16
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text").cast("binary").as("payload"),
        octet_length(col("text").cast("binary")).as("n_bytes"))
      .filter(col("n_bytes") >= win * k)
      .select(col("doc_id"), col("n_bytes"), col("payload"),
        explode(array((0 until k).map(i => lit(i)): _*)).as("frame_idx"))
      .withColumn("frame_off",
        (lit(1) + ((col("n_bytes") - win) * col("frame_idx") / lit(k - 1)).cast("int")))
      .select(col("doc_id"), col("frame_idx"), col("frame_off"),
        md5(expr(s"substring(payload, frame_off, $win)")).as("frame_md5"))
  }

  private val qMultimodalFramesSql =
    """WITH b AS (
         SELECT doc_id, text, CAST(octet_length(CAST(text AS BLOB)) AS INT) AS n_bytes
         FROM documents WHERE octet_length(CAST(text AS BLOB)) >= 64),
       f AS (SELECT doc_id, n_bytes, text, unnest([0, 1, 2, 3]) AS frame_idx FROM b)
       SELECT doc_id, frame_idx,
         CAST(1 + ((n_bytes - 16) * frame_idx) // 3 AS INT) AS frame_off,
         md5(substring(text, 1 + ((n_bytes - 16) * frame_idx) // 3, 16)) AS frame_md5
       FROM f"""

  /** Signature geometry shared by the Spark query and the oracle: 63
    * trigram buckets keep the bit accumulator inside a signed long in
    * every engine (bit 63 would overflow DuckDB's checked `<<`), and 3
    * bands of 21 bits make the band join COMPLETE for hamming ≤ 2 by
    * pigeonhole — the banded candidate set provably equals the all-pairs
    * scan the oracle runs, at 1/290 of its pair volume on the driver
    * corpus (41k candidates vs 11.9M all-pairs at sf0.1; the previous
    * 7×9-bit geometry left 3.6M). */
  val SigBits = 63
  val SigBands = 3
  val SigBandBits = 21
  val SigMaxHamming = 2

  /** q_media_phash: perceptual-hash-ANALOGUE near-dup over the binary
    * payloads — a TLSH-family similarity digest (bucketed byte-trigram
    * counts, median-thresholded into a 63-bit signature; see
    * TextKernelPhash.sig) applied honestly to raw BYTES, since the
    * container ships no image codecs: one kernel pass per payload, banded
    * candidate join + exact bit_count re-rank — the q_dedup_simhash
    * shape, so the scale story is identical (no all-pairs anywhere in
    * Spark; the all-pairs appears only in the oracle, which the banding
    * provably matches). The trigram-profile digest replaced the original
    * positional sample grid because the grid scrambles under any local
    * edit — the corpus's near-dup payloads (reordered word blocks) sat at
    * hamming ≥ 15 and the gate matched on EMPTY output; the profile puts
    * them at hamming ≤ 2 with the geometry above. A real deployment swaps
    * byte trigrams for decoded-pixel features and keeps every line below
    * unchanged.
    *
    * The corpus signature stage is memoized + persisted per (session,
    * dir): the band fan-out references sig once per band key plus the
    * passthrough (SigBands + 1 = 4 references), and project collapse
    * would otherwise re-inline the full kernel expression into every
    * reference — the q_dedup_simhash materialize-the-signature rule. */
  def qMediaPhash(s: SparkSession, dir: String): DataFrame =
    pairsFromSigs(graft.ModelCache.getOrElseUpdate(s, s"media.phashsig:$dir") {
      phashSigsOf(Tables.documents(s, dir))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    })

  def mediaPhashOf(docs: DataFrame): DataFrame =
    pairsFromSigs(phashSigsOf(docs).localCheckpoint(true))

  /** (doc_id, sig): the 63-bucket trigram-profile signature per payload.
    * Payloads shorter than SigBits code points are skipped — a profile
    * over a handful of trigrams is all noise, and the floor matches the
    * oracle's WHERE clause exactly. */
  def phashSigsOf(docs: DataFrame): DataFrame = {
    val n = SigBits
    val base = docs
      .select(col("doc_id"), col("text"))
      .filter(length(col("text")) >= n)
    // ONE native codegen kernel call per row (functions.PhashSig): the
    // stacked-Column formulation re-inlined the sampling expressions under
    // project collapse (~4000 substr calls per row at its worst) and the
    // HOF rewrite still paid interpreted lambda evaluation — the same
    // evolution MinHash/SimHash went through (HashKernels). Pure integer
    // median threshold, identical to the oracle's (see TextKernelPhash).
    base.select(col("doc_id"),
      graft.functions.TextKernelCols.phashSig(col("text"), n).as("sig"))
  }

  /** Banded candidate join + exact hamming re-rank over a MATERIALIZED
    * (doc_id, sig) relation. */
  private def pairsFromSigs(sig: DataFrame): DataFrame = {
    val mask = (1 << SigBandBits) - 1
    val banded = sig.select(col("doc_id"), col("sig"),
      explode(array((0 until SigBands).map(b =>
        struct(lit(b).as("band"),
          expr(s"(sig >> ${b * SigBandBits}) & $mask").as("key"))): _*)).as("bk"))
      .select(col("doc_id"), col("sig"), col("bk.band").as("band"), col("bk.key").as("key"))
    banded.groupBy("band", "key")
      .agg(collect_list(struct(col("doc_id"), col("sig"))).as("ds"))
      .filter(size(col("ds")) >= 2)
      .select(explode(graft.functions.Pairs.orderedPairs(col("ds"))).as("p"))
      .select(col("p.a.doc_id").as("doc_a"), col("p.b.doc_id").as("doc_b"),
        expr("cast(bit_count(p.a.sig ^ p.b.sig) as int)").as("hamming"))
      .distinct()
      .filter(col("hamming") <= SigMaxHamming)
  }

  private val qMediaPhashSql = {
    val n = SigBits
    // the identical signature, spelled relationally: explode trigram
    // positions, bucket by the md5's first 3 bytes, densify to all n
    // buckets (zeros count toward the median!), lower-median threshold
    // (1-based 32nd of the 63 sorted counts), OR the bits via a sum of
    // distinct powers of two. substr/len are code-point semantics, md5
    // hashes the trigram's UTF-8 bytes — exactly the kernel's contract.
    s"""WITH t AS (SELECT doc_id, text FROM documents WHERE len(text) >= $n),
       p AS (SELECT doc_id, text, unnest(generate_series(1, len(text) - 2)) AS i FROM t),
       g AS (SELECT doc_id,
               CAST(('0x' || substr(md5(substr(text, CAST(i AS INT), 3)), 1, 6)) AS BIGINT) % $n AS b
             FROM p),
       cnt AS (SELECT doc_id, b, count(*) AS nb FROM g GROUP BY 1, 2),
       dense AS (SELECT t.doc_id, r.range AS b, coalesce(cnt.nb, 0) AS nb
                 FROM t CROSS JOIN range($n) r
                 LEFT JOIN cnt ON cnt.doc_id = t.doc_id AND cnt.b = r.range),
       m AS (SELECT doc_id, list_sort(list(nb))[${n / 2 + 1}] AS med FROM dense GROUP BY doc_id),
       s AS (SELECT dense.doc_id,
               sum(CASE WHEN nb > med THEN 1::BIGINT << b ELSE 0::BIGINT END) AS sig
             FROM dense JOIN m ON m.doc_id = dense.doc_id GROUP BY 1)
       SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
       FROM s a JOIN s b ON a.doc_id < b.doc_id
       WHERE bit_count(xor(a.sig, b.sig)) <= $SigMaxHamming"""
  }

  override def registry: Seq[Q] = Seq(
    Q("q_multimodal", qMultimodal, Oracle(qMultimodalSql)),
    Q("q_multimodal_frames", qMultimodalFrames, Oracle(qMultimodalFramesSql)),
    Q("q_media_phash", qMediaPhash, Oracle(qMediaPhashSql)))
}
