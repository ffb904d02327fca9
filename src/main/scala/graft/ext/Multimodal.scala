package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Multimodal-column plumbing: media as opaque `binary` columns with
  * typed metadata, decoded/feature-extracted per partition.
  *
  * Image payloads (PNG/BMP/GIF/JPEG) decode for REAL through the
  * pure-JVM `javax.imageio` stack ([[decodeImage]]); payloads with no
  * readable image format fall back to [[decodeStub]], a
  * clearly-marked deterministic fake that also stands in for codecs
  * the JVM lacks (video/audio). Everything around the decode — the
  * (id, content, meta) schema, the iterator→iterator per-partition
  * batch shape (the Scala analogue of `mapInPandas`), the fixed-width
  * feature output — is the same either way: swapping in a JNI codec
  * changes no plan shape.
  *
  * The `documents.text` bytes stand in for media payloads (the corpus
  * has no binary table; TESTDATA.md), so corpus rows take the stub
  * path and stay byte-reproducible by the DuckDB oracle; the real
  * decode path is unit-tested on synthetic BMP/PNG bytes.
  */
object Multimodal {

  // ImageIO's stream wrappers default to a FILE-backed cache
  // (`useCache=true`): every `ImageIO.write`/`read` over an in-memory
  // stream creates, fills, and deletes a temp file in java.io.tmpdir.
  // Per-image that is invisible; at corpus scale it is 2+ filesystem
  // round-trips PER DOCUMENT on the executors' local disks, all 32
  // threads contending on tmpdir create/delete. A/B at 1000× bench
  // scale (5 M payloads, clean disk, same JVM settings): the
  // render→decode→dHash frame reads 633.0 s with the file cache and
  // 31.8 s without — a 20× constant on the image family's dominant
  // stage, and under shuffle-spill disk pressure it amplified to 33×
  // decade growth in the r12/r13 probes. All payloads here are
  // in-memory byte arrays; memory-cached wrappers are strictly
  // better. JVM-global, set once when the object loads (every image
  // path lives in this object).
  javax.imageio.ImageIO.setUseCache(false)

  case class MediaRow(media_id: Long, content: Array[Byte], source: String)
  case class MediaFeatures(media_id: Long, width: Int, height: Int,
      n_bytes: Long, features: Array[Double])

  /** The media table: opaque binary payload + typed metadata. */
  def mediaTable(s: SparkSession, dir: String): Dataset[MediaRow] = {
    import s.implicits._
    Tables.documents(s, dir)
      // single-file parquet = one partition; spread so the (real)
      // decode cost parallelizes across executors
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("doc_id").as("media_id"),
        col("text").cast("binary").as("content"),
        col("source"))
      .as[MediaRow]
  }

  /** REAL image decode for payloads the pure-JVM `javax.imageio`
    * stack can read (PNG / BMP / GIF / JPEG — no native libs
    * required), falling back to [[decodeStub]] for everything else
    * (this corpus's payloads are text bytes, so they take the stub
    * path and the oracle SQL stays byte-reproducible). Dimensions are
    * the decoded raster's; features are a 16-bin LUMINANCE histogram
    * normalized to mass 1 — the decoded analogue of the stub's byte
    * histogram. A cheap magic-number sniff gates the ImageIO probe so
    * non-image payloads never pay reader-lookup cost. */
  def decode(row: MediaRow): MediaFeatures =
    (if (looksLikeImage(row.content)) decodeImage(row) else None)
      .getOrElse(decodeStub(row))

  /** PNG / BMP / GIF / JPEG magic numbers. */
  private[graft] def looksLikeImage(b: Array[Byte]): Boolean =
    b.length >= 4 && (
      (b(0) == 0x89.toByte && b(1) == 'P' && b(2) == 'N' && b(3) == 'G') ||
      (b(0) == 'B' && b(1) == 'M') ||
      (b(0) == 'G' && b(1) == 'I' && b(2) == 'F' && b(3) == '8') ||
      (b(0) == 0xFF.toByte && b(1) == 0xD8.toByte))

  private[graft] def decodeImage(row: MediaRow): Option[MediaFeatures] = {
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(row.content))
      catch { case _: Exception => null } // corrupt payload → stub fallback
    Option(img).map { im =>
      val (w, h) = (im.getWidth, im.getHeight)
      val hist = new Array[Double](16)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val rgb = im.getRGB(x, y)
          val lum = (((rgb >> 16) & 0xFF) * 299 + ((rgb >> 8) & 0xFF) * 587 +
            (rgb & 0xFF) * 114) / 1000
          hist(lum >> 4) += 1.0
          x += 1
        }
        y += 1
      }
      val total = math.max(1.0, (w.toLong * h).toDouble)
      MediaFeatures(row.media_id, w, h, row.content.length.toLong,
        hist.map(_ / total))
    }
  }

  /** STUB DECODER — deterministic fake for payloads with no readable
    * image format (and the documented `???` stand-in for codecs the
    * JVM lacks, e.g. video/audio). "Dimensions" derive from payload
    * length; "features" are a 16-bin byte histogram normalized to
    * mass 1. */
  def decodeStub(row: MediaRow): MediaFeatures = {
    val bytes = row.content
    val hist = new Array[Double](16)
    var i = 0
    while (i < bytes.length) { hist((bytes(i) & 0xFF) >> 4) += 1.0; i += 1 }
    val total = math.max(1.0, bytes.length.toDouble)
    MediaFeatures(
      media_id = row.media_id,
      width = 64 + (bytes.length % 64),
      height = 64 + ((bytes.length / 64) % 64),
      n_bytes = bytes.length.toLong,
      features = hist.map(_ / total))
  }

  /** Per-partition feature extraction — iterator in, iterator out
    * (a batch per partition, like a Pandas UDF over `mapInPandas`):
    * the decode amortizes any per-batch setup (codec init, model
    * load) across the partition, and no payload ever crosses the
    * driver. */
  def extractFeatures(s: SparkSession, dir: String): Dataset[MediaFeatures] = {
    import s.implicits._
    mediaTable(s, dir).mapPartitions { rows =>
      // per-partition setup for heavier codecs would go here;
      // ImageIO's reader registry is JVM-global and thread-safe
      rows.map(decode)
    }
  }

  private val TargetW = 32
  private val TargetH = 32
  private val FrameBytes = 64
  private val SampleEvery = 4

  case class ResizedMedia(media_id: Long, out_w: Int, out_h: Int,
      n_out: Long, checksum: String)
  case class SampledFrames(media_id: Long, n_frames: Long, n_sampled: Long,
      checksum: String)

  /** STUB RESIZE — deterministic byte-stride downsample standing in
    * for an image resize (no codec libs): keep every `stride`-th byte
    * up to `TargetW*TargetH` output bytes. The checksum (md5 of the
    * resized payload) makes the byte selection itself verifiable —
    * the DuckDB oracle re-slices the same bytes. */
  def resizeStub(row: MediaRow): ResizedMedia = {
    val n = row.content.length
    val outLen = math.min(n, TargetW * TargetH)
    val stride = math.max(1, n / (TargetW * TargetH))
    val out = new Array[Byte](outLen)
    var j = 0
    while (j < outLen) { out(j) = row.content(j * stride); j += 1 }
    ResizedMedia(row.media_id, TargetW, TargetH, outLen.toLong,
      org.apache.commons.codec.digest.DigestUtils.md5Hex(out))
  }

  private val CutThreshold = 8L // mean-luminance jump declaring a cut

  case class SceneCuts(media_id: Long, n_frames: Long, n_cuts: Long,
      first_cut_frame: Option[Long])

  /** STUB SCENE-CUT DETECTOR — per-"frame" mean luminance (mean
    * unsigned byte of each [[FrameBytes]] slice), a cut wherever
    * consecutive frame means jump by more than [[CutThreshold]] —
    * the shot-boundary pass a video curation pipeline runs after
    * frame sampling (a real decoder swaps in per-frame luma; the
    * Spark-side shape — per-partition iterator, integer state, no
    * driver bytes — is the real thing). Exactness: the comparison
    * cross-multiplies (|s_k·l_{k-1} − s_{k-1}·l_k| > T·l_k·l_{k-1}`)
    * so the tail frame's shorter length never forces an FP division
    * — both engines compare the identical integers. */
  def sceneCutStub(row: MediaRow): SceneCuts = {
    val n = row.content.length
    val nFrames = (n + FrameBytes - 1) / FrameBytes
    val sums = new Array[Long](nFrames)
    val lens = new Array[Long](nFrames)
    var i = 0
    while (i < n) {
      sums(i / FrameBytes) += (row.content(i) & 0xff).toLong
      lens(i / FrameBytes) += 1L
      i += 1
    }
    cutsFromStats(row.media_id, sums, lens)
  }

  /** The shared cut test over per-frame (luminance sum, sample count)
    * stats — both the stub's byte "frames" and the REAL decoded GIF
    * frames reduce to these integers. */
  private def cutsFromStats(mediaId: Long, sums: Array[Long],
      lens: Array[Long]): SceneCuts = {
    val nFrames = sums.length
    var cuts = 0L
    var first = -1L
    var k = 1
    while (k < nFrames) {
      val lhs = math.abs(sums(k) * lens(k - 1) - sums(k - 1) * lens(k))
      if (lhs > CutThreshold * lens(k) * lens(k - 1)) {
        cuts += 1
        if (first < 0) first = k.toLong
      }
      k += 1
    }
    SceneCuts(mediaId, nFrames.toLong, cuts,
      if (first < 0) None else Some(first))
  }

  /** GIF87a/GIF89a magic. */
  private[graft] def looksLikeGif(b: Array[Byte]): Boolean =
    b.length >= 4 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F' && b(3) == '8'

  /** Integer luminance of a packed RGB pixel — the decode path's
    * formula, shared by the multi-frame readers. */
  private def lumOf(rgb: Int): Int =
    (((rgb >> 16) & 0xFF) * 299 + ((rgb >> 8) & 0xFF) * 587 +
      (rgb & 0xFF) * 114) / 1000

  /** REAL multi-frame decode: every frame of an animated GIF through
    * the stock `javax.imageio` ImageReader (`reader.read(i)` — the
    * one multi-frame container the pure JVM decodes; video codecs
    * stay stubbed). Calls `f` per frame with the decoded raster;
    * returns None (→ stub fallback) for non-GIF payloads, undecodable
    * bytes, or zero-frame files — a fake frame decomposition would
    * corrupt downstream cut/sample semantics. */
  private[graft] def withGifFrames[A: scala.reflect.ClassTag](b: Array[Byte])(
      f: java.awt.image.BufferedImage => A): Option[Array[A]] =
    if (!looksLikeGif(b)) None
    else try {
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(b))
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) None
        else {
          val r = readers.next()
          r.setInput(iis)
          try {
            val n = r.getNumImages(true)
            if (n <= 0) None
            else Some(Array.tabulate(n)(i => f(r.read(i))))
          } finally r.dispose()
        }
      } finally iis.close()
    } catch { case _: Exception => None }

  /** Real scene cuts over decoded GIF frames: per-frame integer
    * luminance sums + pixel counts into the same cross-multiplied cut
    * test as the stub — swapping the codec changes no comparison
    * logic. */
  private[graft] def sceneCutsGif(row: MediaRow): Option[SceneCuts] =
    withGifFrames(row.content) { im =>
      var sum = 0L; var cnt = 0L
      var y = 0
      while (y < im.getHeight) {
        var x = 0
        while (x < im.getWidth) {
          sum += lumOf(im.getRGB(x, y)); cnt += 1; x += 1
        }
        y += 1
      }
      (sum, cnt)
    }.map(st => cutsFromStats(row.media_id, st.map(_._1), st.map(_._2)))

  /** Codec-aware scene cuts — the production face: GIF payloads
    * decode for REAL ([[sceneCutsGif]]), everything else takes the
    * byte-frame stub. Not hash-checkable (no SQL replays a codec), so
    * the DECLARED query is [[sceneCuts]], which restricts BOTH engines
    * to the stub-decodable population. Spec-tested on synthetic
    * animated GIFs. */
  def sceneCutsMedia(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    mediaTable(s, dir)
      .mapPartitions(_.map(r => sceneCutsGif(r).getOrElse(sceneCutStub(r))))
      .toDF()
      .orderBy("media_id")
  }

  /** Declared-query face, oracle-gated: payloads sniffing as GIF
    * (magic `GIF8`) are EXCLUDED on both engines — a real decode is
    * not SQL-replayable, so routing a `GIF8`-prefixed payload through
    * ImageIO while the oracle replays byte frames would silently
    * diverge the correctness gate the moment a generator emits real
    * (or merely GIF8-prefixed text) media. The sniff is a pure prefix
    * test both engines compute identically; on this corpus it
    * excludes nothing. The codec-aware face is [[sceneCutsMedia]]. */
  def sceneCuts(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    mediaTable(s, dir)
      .filter(r => !looksLikeGif(r.content))
      .mapPartitions(_.map(sceneCutStub))
      .toDF()
      .orderBy("media_id")
  }

  /** STUB FRAME SAMPLER — treats the payload as fixed-size "frames"
    * and keeps every [[SampleEvery]]-th, the decode-free shape of
    * video frame sampling. Checksum over the concatenated sampled
    * frames, oracle-verified. */
  def frameSampleStub(row: MediaRow): SampledFrames = {
    val n = row.content.length
    val nFrames = (n + FrameBytes - 1) / FrameBytes
    val nSampled = (nFrames + SampleEvery - 1) / SampleEvery
    val bos = new java.io.ByteArrayOutputStream()
    var j = 0
    while (j < nSampled) {
      val start = j * SampleEvery * FrameBytes
      bos.write(row.content, start, math.min(FrameBytes, n - start))
      j += 1
    }
    SampledFrames(row.media_id, nFrames.toLong, nSampled.toLong,
      org.apache.commons.codec.digest.DigestUtils.md5Hex(bos.toByteArray))
  }

  /** Real frame sampling over a decoded animated GIF: keep every
    * [[SampleEvery]]-th REAL frame; the checksum runs over the kept
    * frames' row-major luminance bytes, so the byte selection stays
    * verifiable exactly like the stub's. */
  private[graft] def frameSampleGif(row: MediaRow): Option[SampledFrames] =
    withGifFrames(row.content) { im =>
      val out = new Array[Byte](im.getWidth * im.getHeight)
      var i = 0; var y = 0
      while (y < im.getHeight) {
        var x = 0
        while (x < im.getWidth) {
          out(i) = lumOf(im.getRGB(x, y)).toByte; i += 1; x += 1
        }
        y += 1
      }
      out
    }.map { frames =>
      val bos = new java.io.ByteArrayOutputStream()
      var j = 0
      while (j * SampleEvery < frames.length) {
        bos.write(frames(j * SampleEvery)); j += 1
      }
      SampledFrames(row.media_id, frames.length.toLong, j.toLong,
        org.apache.commons.codec.digest.DigestUtils.md5Hex(bos.toByteArray))
    }

  /** Per-partition resize — same iterator→iterator batch shape as
    * [[extractFeatures]]. */
  def resize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    mediaTable(s, dir).mapPartitions(_.map(resizeStub)).toDF()
      .orderBy("media_id")
  }

  /** Codec-aware frame sampling — production face; see
    * [[sceneCutsMedia]] for the oracle-gating rationale. */
  def frameSampleMedia(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    mediaTable(s, dir)
      .mapPartitions(_.map(r => frameSampleGif(r).getOrElse(frameSampleStub(r))))
      .toDF()
      .orderBy("media_id")
  }

  /** Declared-query face, oracle-gated exactly like [[sceneCuts]]:
    * `GIF8`-sniffing payloads are excluded on both engines. */
  def frameSample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    mediaTable(s, dir)
      .filter(r => !looksLikeGif(r.content))
      .mapPartitions(_.map(frameSampleStub))
      .toDF()
      .orderBy("media_id")
  }

  /** Feature query surface. The stub's 16-bin byte histogram IS
    * SQL-expressible for this corpus: the text is pure ASCII
    * (verified: octet_length == length for every row), so bin b's
    * count is a regex count of chars in `[\x{b0}-\x{bF}]` — the
    * DuckDB oracle checks f0/f7 exactly. */
  def features(s: SparkSession, dir: String): DataFrame =
    extractFeatures(s, dir)
      .toDF()
      .select(col("media_id"), col("width"), col("height"), col("n_bytes"),
        round(element_at(col("features"), 1), 4).as("f0"),
        round(element_at(col("features"), 8), 4).as("f7"))
      .orderBy("media_id")

  /** Metadata-only projection of the same pipeline — SQL-expressible
    * (dimensions are deterministic functions of payload length), so
    * it anchors the stub's plumbing to the DuckDB oracle. */
  def meta(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.LongType
    extractFeatures(s, dir)
      .toDF()
      .select(col("media_id"), col("n_bytes"),
        col("width").cast(LongType).as("width"),
        col("height").cast(LongType).as("height"))
      .orderBy("media_id")
  }

  /** 64-bit difference hash (dHash) of a decoded raster: area-average
    * the luminance onto a 9×8 grid, then bit i = (cell > its right
    * neighbor) — 8 comparisons × 8 rows. Robust to uniform rescale
    * and mild recompression (the gradient SIGN survives what exact
    * byte hashes don't), which is exactly the near-dup class image
    * dedup needs to catch. */
  private[graft] def dHash64(im: java.awt.image.BufferedImage): Long = {
    val gw = 9; val gh = 8
    val w = im.getWidth; val h = im.getHeight
    val acc = Array.ofDim[Double](gh, gw)
    val cnt = Array.ofDim[Long](gh, gw)
    var y = 0
    while (y < h) {
      val cy = math.min(gh - 1, y * gh / h)
      var x = 0
      while (x < w) {
        val rgb = im.getRGB(x, y)
        val lum = (((rgb >> 16) & 0xFF) * 299 + ((rgb >> 8) & 0xFF) * 587 +
          (rgb & 0xFF) * 114) / 1000.0
        acc(cy)(math.min(gw - 1, x * gw / w)) += lum
        cnt(cy)(math.min(gw - 1, x * gw / w)) += 1
        x += 1
      }
      y += 1
    }
    var bits = 0L; var i = 0; var yy = 0
    while (yy < gh) {
      var xx = 0
      while (xx < gw - 1) {
        val a = acc(yy)(xx) / math.max(1L, cnt(yy)(xx))
        val b = acc(yy)(xx + 1) / math.max(1L, cnt(yy)(xx + 1))
        if (a > b) bits |= (1L << i)
        i += 1; xx += 1
      }
      yy += 1
    }
    bits
  }

  /** dHash of a payload the JVM can decode as an image; None for
    * everything else (no stub — a fake perceptual hash would MINT
    * false near-dup pairs, the one failure mode dedup can't have). */
  def imageDHash(row: MediaRow): Option[Long] =
    if (!looksLikeImage(row.content)) None
    else
      try Option(javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(row.content))).map(dHash64)
      catch { case _: Exception => None }

  /** (media_id, dhash) for decodable payloads — the per-partition
    * iterator shape of [[extractFeatures]]; undecodable rows drop. */
  def imageHashes(media: Dataset[MediaRow]): DataFrame = {
    val s = media.sparkSession
    import s.implicits._
    media.mapPartitions(rows =>
        rows.flatMap(r => imageDHash(r).map(h => (r.media_id, h))))
      .toDF("media_id", "dhash")
  }

  /** Band plan for [[nearDupImagePairs]] (Manku, Jain & Sarma 2007,
    * the SimHash near-dup scheme generalized): split the
    * `hashBits`-bit hash into `nBlocks` contiguous blocks; each table
    * keys on a distinct combination of `nBlocks − maxHamming` blocks
    * concatenated. With ≤ maxHamming differing bits, the differing
    * bits touch ≤ maxHamming blocks, so some `nBlocks − maxHamming`
    * blocks are clean — the table selecting exactly those matches
    * (pigeonhole, exact recall). More blocks → more tables
    * (C(B, B−h)) but LONGER keys (hashBits·(B−h)/B bits), which is
    * what bounds per-table random collisions as the population
    * grows. Shared by the 64-bit image dHash family and the 60-bit
    * text SimHash family ([[graft.ext.Dedup.simhashPairs]]). */
  private[graft] case class BandPlan(blocks: IndexedSeq[(Int, Int)],
      tables: IndexedSeq[Seq[Int]]) {
    /** Narrowest table key width in bits. */
    def minKeyBits: Int = tables.map(_.map(blocks(_)._2).sum).min
  }

  private[graft] def bandPlanFor(nBlocks: Int, maxHamming: Int,
      hashBits: Int = 64): BandPlan = {
    require(nBlocks > maxHamming,
      s"$nBlocks-block pigeonhole cannot cover Hamming <= $maxHamming")
    val base = hashBits / nBlocks; val rem = hashBits % nBlocks
    val widths = IndexedSeq.tabulate(nBlocks)(i => if (i < rem) base + 1 else base)
    val shifts = widths.scanLeft(0)(_ + _).dropRight(1)
    val blocks = shifts.zip(widths)
    val tables = (0 until nBlocks).combinations(nBlocks - maxHamming)
      .map(_.toSeq).toIndexedSeq
    BandPlan(blocks, tables)
  }

  /** Population-derived block count: keep the expected per-item
    * per-table random collisions ≈ n/2^keyBits below ~1 as the hash
    * population grows. 4 blocks (16-bit keys, 4 tables — the minimal
    * plan for Hamming ≤ 3) hold to 2^16 hashes; 5 blocks (~25-bit
    * keys, 10 tables) to 2^25; 6 blocks (~31-bit keys, 20 tables)
    * to ~2·10⁹ — beyond that the HASH must widen, not the plan. The
    * thresholds are pinned integers, so the plan is a deterministic
    * function of the population count. */
  private[graft] def imageBandBlocks(n: Long): Int =
    if (n <= (1L << 16)) 4
    else if (n <= (1L << 25)) 5
    else 6

  /** Near-dup image pairs by dHash Hamming distance: banded equi-join
    * under the population-scaled [[BandPlan]], shuffle-hash both
    * sides, exact `bit_count(xor)` verify after. The shuffle carries
    * (id, one long) — payloads never move. The band plan affects
    * CANDIDATES only: the verify + distinct make the final pair set
    * plan-invariant (asserted in `MultimodalSpec`), which is also why
    * the DuckDB oracle can state the pairs with a brute-force replay
    * and never model the bands. */
  def nearDupImagePairs(hashes: DataFrame, population: Long,
      maxHamming: Int = 3): DataFrame =
    nearDupImagePairsPlanned(hashes,
      bandPlanFor(imageBandBlocks(population), maxHamming), maxHamming,
      population)

  /** The generic banded Hamming pairing under a [[BandPlan]] —
    * despite the name it is hash-agnostic (columns `media_id`,
    * `dhash`; any ≤ 64-bit sketch): [[graft.ext.Dedup.simhashPairs]]
    * drives it with the 60-bit text SimHash and its own
    * population-derived plan.
    *
    * `population` (0 = unknown, floor at session parallelism) sizes
    * the band join's partition count: the banded frame holds
    * population × tables skinny rows, and a WIDE plan (56+ tables
    * past 2^16 items) at a fixed 32-partition count turns that
    * replication directly into per-task shuffled-hash build heap
    * (OOMed at 100× bench scale the first time the SimHash family
    * stepped to the 8-block plan). Same discipline as
    * [[graft.ext.Dedup.arrayJoinPartitions]]: both sides repartition
    * to the derived count on the join key — same HashPartitioning,
    * no extra exchange, AQE-coalesce-exempt. */
  private[graft] def nearDupImagePairsPlanned(hashes: DataFrame,
      plan: BandPlan, maxHamming: Int, population: Long = 0L): DataFrame = {
    // One materialization of the (id, hash) frame before the fan-out:
    // this plan reads it five times (exact ×2, reps, expansion ×2),
    // and for the image family each raw scan re-runs the PNG
    // encode→decode→dHash pipeline — ~ms per image, the dominant
    // cost at 100× bench scale. The frame is two longs per item at
    // ANY corpus size; localCheckpoint truncates the decode lineage
    // the same way the CC rounds do — and, like the CC rounds, the
    // pinned blocks are released on `SessionMemo.clear`: repeated
    // invocations (two bench passes, the pair and cluster faces of a
    // family) must not accumulate executor storage until JVM GC
    // notices the dropped frame.
    val sess = hashes.sparkSession
    val (hs, ids) = graft.SessionMemo.checkpointTracked(hashes)
    graft.SessionMemo.onClear(sess)(graft.SessionMemo.release(sess, ids))
    expandHashPairs(hs, hashPairsPlanned(hs, plan, maxHamming, population))
  }

  /** DISTINCT-SKETCH near pairs (0 < Hamming ≤ max) — the hash-level
    * half of the pairing. IDENTICAL-SKETCH COMPRESSION: mass
    * duplication concentrates in equal sketches (xor = 0), and
    * banding them is pathological — every member of a g-sized group
    * meets the whole group in EVERY table (C(B, B−h) · g² compares
    * where the true answer is the g²/2 pair listing itself). So only
    * DISTINCT sketch values enter the band join — bucket occupancy
    * collapses from docs-per-key to distinct-hashes-per-key, which is
    * what the population-scaled key widths actually bound — and
    * equal-sketch pairs expand directly in [[expandHashPairs]]. */
  private[graft] def hashPairsPlanned(hs: DataFrame,
      plan: BandPlan, maxHamming: Int, population: Long = 0L): DataFrame = {
    // table key: the combo's blocks concatenated via shift/mask — for
    // the minimal 4-block plan this is exactly the historic single
    // 16-bit band value
    def comboKey(h: org.apache.spark.sql.Column, combo: Seq[Int]) =
      combo.foldLeft(lit(0L)) { (acc, bi) =>
        val (sh, wd) = plan.blocks(bi)
        shiftleft(acc, wd) +
          shiftrightunsigned(h, sh).bitwiseAND(lit((1L << wd) - 1))
      }
    val reps = hs.select(col("dhash")).distinct()
    val banded = reps.select(col("dhash"),
        explode(array(plan.tables.zipWithIndex.map { case (combo, t) =>
          struct(lit(t).as("band"), comboKey(col("dhash"), combo).as("key"))
        }: _*)).as("bk"))
      .select(col("dhash"), col("bk.band").as("band"), col("bk.key").as("key"))
    // population-scaled partition count (see
    // [[graft.ext.Dedup.arrayJoinPartitions]]): a WIDE plan's banded
    // frame at a fixed 32-partition count turns table replication
    // into per-task shuffled-hash build heap (OOMed at 100× bench
    // scale when the SimHash family first stepped to 8 blocks)
    val bandedRows = math.max(0L, population) * plan.tables.size
    val nParts = graft.ext.Dedup.arrayJoinPartitions(bandedRows, bandedRows,
      hs.sparkSession.sparkContext.defaultParallelism)
    val a = banded.toDF("h_a", "band_a", "key_a")
      .repartition(nParts, col("band_a"), col("key_a"))
    val b = banded.toDF("h_b", "band_b", "key_b")
      .repartition(nParts, col("band_b"), col("key_b"))
    // Exactly-once emission WITHOUT a pair distinct: which tables a
    // qualifying hash pair agrees on is a pure function of
    // xor(h_a, h_b), so each pair keeps only its FIRST agreeing
    // table's row (the blocking-quality family's first-collision
    // device) — the Hamming cut and the gate run inside the joined
    // stage and the hash-pair stream leaves it exactly-once, no
    // distinct exchange. The FULL predicate is authored in the join
    // condition, cheap conjuncts first (the ppJoin lesson: a filter
    // left above the join is pushed into the condition AT THE FRONT,
    // running the expensive test on every raw bucket pair). All
    // literals: the dirty-block mask folds B conditionals, the
    // first-agreeing cascade C(B, B−h) — codegen'd integer tests.
    val xorC = col("h_a").bitwiseXOR(col("h_b"))
    val dirty = plan.blocks.zipWithIndex.map { case ((sh, wd), bi) =>
      when(shiftrightunsigned(xorC, sh).bitwiseAND(lit((1L << wd) - 1)) =!= 0,
        lit(1 << bi)).otherwise(lit(0))
    }.reduce(_ + _)
    // first agreeing table as a PRECOMPUTED lookup over the dirty
    // mask (≤ 2^B ≤ 1024 ints as one array literal): the when-cascade
    // form emitted C(B, B−h) branches into the join's generated
    // method — at the 8-block plan (56 combos) Janino blew the method
    // size limit and the task died (codegen fallback doesn't cover
    // executor-side compiles). element_at on a literal array is O(1)
    // and a few bytecodes regardless of plan width.
    val firstLut = Array.tabulate(1 << plan.blocks.size) { m =>
      plan.tables.indexWhere(_.forall(bi => (m & (1 << bi)) == 0))
    }
    val firstAgree = element_at(lit(firstLut), dirty + lit(1))
    a.join(b.hint("shuffle_hash"),
        col("band_a") === col("band_b") && col("key_a") === col("key_b") &&
          col("h_a") < col("h_b") &&
          bit_count(xorC) <= maxHamming &&
          col("band_a") === firstAgree)
      .select(col("h_a"), col("h_b"), bit_count(xorC).as("hamming"))
  }

  /** Expand hash-level pairs to the full id-level pair listing:
    * equal-sketch pairs off a self-join on the full hash (pure
    * output generation, no bands), near pairs by joining each
    * hash pair's member lists. Each unordered id pair descends from
    * exactly one unordered hash pair, so exactly-once survives the
    * expansion. UNORDERED: the pair stream is set-semantic (CC and
    * the memo cache don't care), and the output is duplicate-group-
    * quadratic — a global sort here would be paid again by the
    * ordered declared queries, which sort for themselves. */
  private[graft] def expandHashPairs(hs: DataFrame,
      hashPairs: DataFrame): DataFrame = {
    val ha = hs.toDF("id_a", "dhash")
    val hb = hs.toDF("id_b", "dhash")
    val exact = ha.join(hb.hint("shuffle_hash"), Seq("dhash"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), lit(0).as("hamming"))
    val near = hashPairs
      .join(hs.toDF("ia", "h_a").hint("shuffle_hash"), Seq("h_a"))
      .join(hs.toDF("ib", "h_b").hint("shuffle_hash"), Seq("h_b"))
      .select(least(col("ia"), col("ib")).as("id_a"),
        greatest(col("ia"), col("ib")).as("id_b"), col("hamming"))
    exact.unionByName(near)
  }

  case class AudioMeta(media_id: Long, n_bytes: Long, sample_rate: Long,
      channels: Long, n_samples: Long)

  /** RIFF/WAVE magic. */
  private[graft] def looksLikeWav(b: Array[Byte]): Boolean =
    b.length >= 12 &&
      b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
      b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E'

  /** REAL audio-header decode for WAV payloads via the pure-JVM
    * `javax.sound.sampled` stack (no native codecs needed for PCM
    * WAV): sample rate, channel count, and frame length straight
    * from the parsed header. */
  private[graft] def decodeWav(row: MediaRow): Option[AudioMeta] =
    try {
      val aff = javax.sound.sampled.AudioSystem.getAudioFileFormat(
        new java.io.ByteArrayInputStream(row.content))
      val fmt = aff.getFormat
      Some(AudioMeta(row.media_id, row.content.length.toLong,
        fmt.getSampleRate.toLong, fmt.getChannels.toLong,
        aff.getFrameLength.toLong))
    } catch { case _: Exception => None }

  /** STUB AUDIO METADATA — deterministic fake for non-WAV payloads
    * (this corpus's text bytes), mirroring [[decodeStub]]: rate and
    * channel count derive from payload length, one "sample" per
    * byte. SQL-expressible, so the oracle anchors the plumbing. */
  def audioStub(row: MediaRow): AudioMeta = {
    val nb = row.content.length.toLong
    AudioMeta(row.media_id, nb, 8000L + (nb % 8) * 1000L, 1L + nb % 2, nb)
  }

  /** Audio metadata over the media table — same per-partition
    * iterator→iterator shape as [[extractFeatures]], real WAV header
    * parse where the magic matches, stub otherwise. */
  def audioMeta(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    mediaTable(s, dir).mapPartitions(_.map { r =>
      if (looksLikeWav(r.content)) decodeWav(r).getOrElse(audioStub(r))
      else audioStub(r)
    }).toDF().orderBy("media_id")
  }

  /** Deterministic 9×8 grayscale PNG built from a payload's first 72
    * bytes (pixel (x,y) = byte y·9+x, zero beyond length) — the
    * corpus-derived REAL-image fixture for the perceptual-dedup
    * query: the PNG round-trips through the actual `javax.imageio`
    * encode/decode, and because the raster is exactly dHash's 9×8
    * grid, each grid cell averages ONE pixel, so every dHash bit
    * collapses to `byte[p] > byte[p+1]` — a comparison the DuckDB
    * oracle replays with `ascii(substr(text, …))`. */
  private[graft] def toGrayPng(bytes: Array[Byte]): Array[Byte] = {
    val im = new java.awt.image.BufferedImage(
      9, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 9) {
        val idx = y * 9 + x
        val v = if (idx < bytes.length) bytes(idx) & 0xFF else 0
        im.setRGB(x, y, (v << 16) | (v << 8) | v)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(im, "png", bos)
    bos.toByteArray
  }

  /** Perceptual image dedup, end-to-end on REAL codecs: render each
    * payload to a PNG ([[toGrayPng]], per-partition — payloads never
    * visit the driver), decode it back through `javax.imageio`, dHash
    * the raster, and pair by banded Hamming ([[nearDupImagePairs]]:
    * 4×16-bit band equi-join, shuffle-hash, exact `bit_count(xor)`
    * verify — only (id, long) tuples ever shuffle). Exact-duplicate
    * docs land at Hamming 0; docs sharing a 72-byte prefix pattern at
    * ≤ 3. */
  def imageDedup(s: SparkSession, dir: String): DataFrame =
    verifiedImagePairs(s, dir)
      .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
      .orderBy("id_a", "id_b")

  /** Verified Hamming-pair set, session-memoized (S5): the pair query
    * and [[imageClusters]] share one materialization of the
    * render→hash→band→verify pipeline. `PlanSpec` asserts the join
    * shapes on [[buildImagePairs]] — the exact builder that fills
    * this cache. */
  private def verifiedImagePairs(s: SparkSession, dir: String): DataFrame =
    graft.SessionMemo.cached(s, dir, "image_neardup_pairs") {
      buildImagePairs(s, dir)
    }

  /** The (media_id, dhash) frame, session-memoized: the pair query,
    * the cluster query, and the cross-modal entity map all read it,
    * and each raw scan re-runs the render→decode→dHash pipeline. */
  private[graft] def imageHashFrame(s: SparkSession, dir: String): DataFrame =
    graft.SessionMemo.cached(s, dir, "image_hashes") {
      import s.implicits._
      val pngs = mediaTable(s, dir)
        .mapPartitions(_.map(r =>
          MediaRow(r.media_id, toGrayPng(r.content), r.source)))
      imageHashes(pngs)
    }

  /** DISTINCT-dHash near pairs (0 < Hamming ≤ 3), session-memoized:
    * the hash-level evidence every image-dedup face derives from —
    * linear in the distinct-hash count where the id-level pair
    * listing is quadratic in duplicate-group size. */
  private[graft] def imageHashPairs(s: SparkSession, dir: String): DataFrame =
    graft.SessionMemo.cached(s, dir, "image_hash_pairs") {
      // band plan scales with the hash population (here: the corpus —
      // every payload renders to a decodable PNG)
      val population = Tables.documents(s, dir).count()
      hashPairsPlanned(imageHashFrame(s, dir),
        bandPlanFor(imageBandBlocks(population), 3), 3, population)
    }

  private[graft] def buildImagePairs(s: SparkSession, dir: String): DataFrame =
    expandHashPairs(imageHashFrame(s, dir), imageHashPairs(s, dir))

  /** Perceptual image near-dup CLUSTERS — the linear-output form of
    * [[imageDedup]]: pair listing is quadratic in duplicate-group
    * size (a million-copy logo is ~5·10¹¹ pair rows); the cluster map
    * is one row per media. Connected components over the HASH-LEVEL
    * graph (`Dedup.clustersFromHashGraph`): distinct dHashes are the
    * nodes (identical-hash media share one node — no bucket row per
    * media, no string key per pair), the verified near hash-pairs
    * ([[imageHashPairs]]) the edges, and media join the finished
    * hash→root map once — identical reachability to the verified pair
    * graph with (long, long) CC edges only. Every payload renders to
    * a decodable PNG, so the hash frame covers the full corpus and
    * singletons re-enter as their own node. Recall is exactly
    * [[imageDedup]]'s: the same verified evidence, re-expressed as
    * components. Output (media_id, cluster_rep, cluster_size) — the
    * form a curation pipeline acts on (keep rep, drop the rest). */
  def imageClusters(s: SparkSession, dir: String): DataFrame =
    Dedup.clusterMap(s, dir, "image_clusters") {
      Dedup.clustersFromHashGraph(
        imageHashFrame(s, dir).select(col("media_id"), col("dhash")),
        imageHashPairs(s, dir), "media_id")
    }

  // DuckDB replay of the dHash bits on the 9×8 raster: BYTE p of the
  // payload's UTF-8 encoding (0 past end), bit i compares positions
  // (i/8)·9+i%8 and its right neighbor, accumulated as two 32-bit
  // halves so the bigint arithmetic never touches the sign bit.
  // Byte access is byte-exact, not character-based: `hex(encode(text))`
  // renders each UTF-8 byte as two uppercase hex chars ('0'-'9' < 'A'-
  // 'F' in ASCII), so comparing the two-char slices lexicographically
  // IS the unsigned byte compare the Spark raster performs — correct
  // even if the corpus grows non-ASCII text (DuckDB v1.0 has no blob
  // substring; `ascii(substr(text,…))` would return code points, not
  // bytes, and silently desync from the UTF-8 raster). The '00' pad
  // covers reads past end-of-payload (raster zero-fills beyond length).
  private def duckHexByte(pos: Int): String =
    s"substr(hx, ${2 * pos + 1}, 2)"
  private def duckBit(i: Int): String = {
    val p = (i / 8) * 9 + (i % 8)
    s"CASE WHEN ${duckHexByte(p)} > ${duckHexByte(p + 1)} THEN ${1L << (i % 32)} ELSE 0 END"
  }
  private def duckDHashHalf(from: Int, until: Int): String =
    (from until until).map(duckBit).mkString(" + ")

  /** Oracle fragment for cross-module composition: brute-force dHash
    * pairs at Hamming ≤ 3, ending with `vpi (id_a, id_b)` — the
    * verified image near-dup edge set. Consumed by the cross-modal
    * cluster oracle in [[Dedup]]. */
  private[ext] def imageVerifiedPairsCteSql: String =
    s"""hb AS (SELECT doc_id,
       |    hex(encode(text)) || repeat('00', 74) AS hx FROM documents),
       |h AS (SELECT doc_id AS media_id,
       |    CAST(${duckDHashHalf(0, 32)} AS BIGINT) AS lo,
       |    CAST(${duckDHashHalf(32, 64)} AS BIGINT) AS hi
       |  FROM hb),
       |vpi AS (SELECT a.media_id AS id_a, b.media_id AS id_b
       |  FROM h a JOIN h b ON a.media_id < b.media_id
       |  WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 3)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mm_features"     -> (features _),
    "mm_meta"         -> (meta _),
    "mm_resize"       -> (resize _),
    "mm_frame_sample" -> (frameSample _),
    "mm_scene_cuts"   -> (sceneCuts _),
    "mm_audio_meta"   -> (audioMeta _),
    "mm_image_dedup"  -> (imageDedup _),
    "mm_image_clusters" -> (imageClusters _),
  )

  val oracleSql: Map[String, String] = Map(
    // ASCII corpus ⇒ every payload takes the stub path, whose
    // metadata is a pure function of byte length
    "mm_audio_meta" ->
      """WITH b AS (SELECT doc_id AS media_id,
        |    octet_length(encode(text)) AS nb FROM documents)
        |SELECT media_id, CAST(nb AS BIGINT) AS n_bytes,
        |  CAST(8000 + (nb % 8) * 1000 AS BIGINT) AS sample_rate,
        |  CAST(1 + nb % 2 AS BIGINT) AS channels,
        |  CAST(nb AS BIGINT) AS n_samples
        |FROM b ORDER BY media_id""".stripMargin,

    "mm_resize" ->
      s"""WITH b AS (SELECT doc_id AS media_id, text,
        |    octet_length(encode(text)) AS nb FROM documents)
        |SELECT media_id, $TargetW AS out_w, $TargetH AS out_h,
        |  CAST(least(nb, ${TargetW * TargetH}) AS BIGINT) AS n_out,
        |  md5(array_to_string(list_transform(
        |    range(0, least(nb, ${TargetW * TargetH})),
        |    j -> substr(text,
        |      CAST(j * greatest(1, nb // ${TargetW * TargetH}) + 1 AS BIGINT),
        |      1)), '')) AS checksum
        |FROM b ORDER BY media_id""".stripMargin,

    // the `NOT GIF8` guard mirrors the Spark side's oracle gate: GIF
    // payloads route to a real decoder there, which no SQL replays
    "mm_frame_sample" ->
      s"""WITH b AS (SELECT doc_id AS media_id, text,
        |    octet_length(encode(text)) AS nb FROM documents
        |  WHERE substr(text, 1, 4) <> 'GIF8')
        |SELECT media_id,
        |  CAST((nb + ${FrameBytes - 1}) // $FrameBytes AS BIGINT) AS n_frames,
        |  CAST(((nb + ${FrameBytes - 1}) // $FrameBytes + ${SampleEvery - 1})
        |    // $SampleEvery AS BIGINT) AS n_sampled,
        |  md5(array_to_string(list_transform(
        |    range(0, ((nb + ${FrameBytes - 1}) // $FrameBytes + ${SampleEvery - 1})
        |      // $SampleEvery),
        |    j -> substr(text, CAST(j * ${SampleEvery * FrameBytes} + 1 AS BIGINT),
        |      $FrameBytes)), '')) AS checksum
        |FROM b ORDER BY media_id""".stripMargin,

    // per-frame byte sums replayed from the same char slices; the
    // cut test is the identical cross-multiplied integer comparison.
    // The final SELECT rides on b (every media row) with a LEFT JOIN
    // of the per-frame aggregate: a zero-length payload has no frames
    // to unnest, but the Spark side still emits its (media_id, 0, 0,
    // NULL) row — without the outer join the oracle would silently
    // drop it (latent with the current all-non-empty generator, but a
    // real corpus has empty payloads).
    "mm_scene_cuts" ->
      s"""WITH b AS (SELECT doc_id AS media_id, text,
        |    octet_length(encode(text)) AS nb FROM documents
        |  WHERE substr(text, 1, 4) <> 'GIF8'),
        |fr AS (SELECT media_id, nb,
        |    unnest(range(0, (nb + ${FrameBytes - 1}) // $FrameBytes)) AS k,
        |    text FROM b),
        |st AS (SELECT media_id, k,
        |    CAST(list_sum(list_transform(
        |      range(0, least($FrameBytes, nb - k * $FrameBytes)),
        |      j -> ascii(substr(text,
        |        CAST(k * $FrameBytes + j + 1 AS BIGINT), 1)))) AS BIGINT) AS s,
        |    CAST(least($FrameBytes, nb - k * $FrameBytes) AS BIGINT) AS l
        |  FROM fr),
        |c AS (SELECT media_id, k, s, l,
        |    lag(s) OVER w AS ps, lag(l) OVER w AS pl
        |  FROM st WINDOW w AS (PARTITION BY media_id ORDER BY k)),
        |cut AS (SELECT media_id, k,
        |    CASE WHEN ps IS NOT NULL
        |      AND abs(s * pl - ps * l) > $CutThreshold * l * pl
        |      THEN 1 ELSE 0 END AS iscut
        |  FROM c),
        |agg AS (SELECT media_id, CAST(sum(iscut) AS BIGINT) AS n_cuts,
        |    CAST(min(CASE WHEN iscut = 1 THEN k END) AS BIGINT)
        |      AS first_cut_frame
        |  FROM cut GROUP BY 1)
        |SELECT b.media_id,
        |  CAST((b.nb + ${FrameBytes - 1}) // $FrameBytes AS BIGINT) AS n_frames,
        |  CAST(coalesce(a.n_cuts, 0) AS BIGINT) AS n_cuts, a.first_cut_frame
        |FROM b LEFT JOIN agg a USING (media_id) ORDER BY media_id""".stripMargin,

    "mm_features" ->
      """WITH b AS (SELECT doc_id AS media_id, text,
        |    octet_length(encode(text)) AS nb FROM documents)
        |SELECT media_id,
        |  64 + nb % 64 AS width,
        |  64 + (nb // 64) % 64 AS height,
        |  CAST(nb AS BIGINT) AS n_bytes,
        |  round(len(regexp_extract_all(text, '[\x00-\x0f]'))
        |    / greatest(1.0, CAST(nb AS DOUBLE)), 4) AS f0,
        |  round(len(regexp_extract_all(text, '[\x70-\x7f]'))
        |    / greatest(1.0, CAST(nb AS DOUBLE)), 4) AS f7
        |FROM b ORDER BY media_id""".stripMargin,

    "mm_meta" ->
      """SELECT doc_id AS media_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  CAST(64 + octet_length(encode(text)) % 64 AS BIGINT) AS width,
        |  CAST(64 + (octet_length(encode(text)) // 64) % 64 AS BIGINT) AS height
        |FROM documents ORDER BY media_id""".stripMargin,

    // dHash on the 9×8 corpus-byte raster == adjacent-byte
    // comparisons (see imageDedup); banding is exact for Hamming ≤ 3
    // by pigeonhole, so the brute-force replay states the same pairs
    "mm_image_dedup" ->
      s"""WITH hb AS (SELECT doc_id,
         |    hex(encode(text)) || repeat('00', 74) AS hx FROM documents),
         |h AS (SELECT doc_id AS media_id,
         |    CAST(${duckDHashHalf(0, 32)} AS BIGINT) AS lo,
         |    CAST(${duckDHashHalf(32, 64)} AS BIGINT) AS hi
         |  FROM hb)
         |SELECT a.media_id AS id_a, b.media_id AS id_b,
         |  CAST(bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi))
         |    AS BIGINT) AS hamming
         |FROM h a JOIN h b ON a.media_id < b.media_id
         |WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 3
         |ORDER BY id_a, id_b""".stripMargin,

    // the same brute-force verified pairs, closed under recursive-CTE
    // reachability (the established CC oracle pattern): min member is
    // the rep, every media appears once, singletons are their own rep
    "mm_image_clusters" ->
      s"""WITH RECURSIVE hb AS (SELECT doc_id,
         |    hex(encode(text)) || repeat('00', 74) AS hx FROM documents),
         |h AS (SELECT doc_id AS media_id,
         |    CAST(${duckDHashHalf(0, 32)} AS BIGINT) AS lo,
         |    CAST(${duckDHashHalf(32, 64)} AS BIGINT) AS hi
         |  FROM hb),
         |vp AS (SELECT a.media_id AS id_a, b.media_id AS id_b
         |  FROM h a JOIN h b ON a.media_id < b.media_id
         |  WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 3),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM vp
         |  UNION ALL SELECT id_b, id_a FROM vp),
         |reach AS (
         |  SELECT media_id, media_id AS r FROM h
         |  UNION
         |  SELECT e.dst AS media_id, reach.r
         |  FROM reach JOIN edges e ON e.src = reach.media_id),
         |rep AS (SELECT media_id, min(r) AS cluster_rep FROM reach GROUP BY 1),
         |cs AS (SELECT cluster_rep, count(*) AS cluster_size FROM rep GROUP BY 1)
         |SELECT r.media_id, r.cluster_rep, cs.cluster_size
         |FROM rep r JOIN cs USING (cluster_rep) ORDER BY r.media_id""".stripMargin,
  )
}
