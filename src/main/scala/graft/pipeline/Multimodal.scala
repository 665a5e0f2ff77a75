package graft.pipeline

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing for training-data pipelines: image/audio/
  * video payloads ride as opaque `binary` columns with a typed metadata
  * struct; decode / feature-extract / resize / frame-sample run as
  * partition-batched transforms (`mapPartitions` — the JVM analog of
  * `mapInPandas`: one buffer per batch, no per-row driver round-trips).
  *
  * Image decode is REAL: `ImageIOCodec` uses the JDK's `javax.imageio`
  * (PNG/JPEG/BMP/GIF — no external jars) to decode payloads into
  * width/height metadata plus luminance features average-pooled to a fixed
  * dimension. Payloads no codec recognizes (audio/video in this container)
  * fall back to `decodeStub`'s deterministic fake features, keeping the
  * Spark-side contract — schema, batch shape, partitioning, null handling
  * — identical; swap in a JavaCV/ffmpeg-backed `MediaCodec` to extend.
  */
object Multimodal {

  // memory-backed ImageIO streams: the default is a temp-FILE cache, which
  // serializes every encode/decode through disk I/O — ~10× slower per image
  // in a tight partition loop (measured 16 s → ~2 s for 10k 8×4 PNGs)
  javax.imageio.ImageIO.setUseCache(false)

  /** Pluggable decoder: payload → (width, height, `dim`-pooled features),
    * or None when the payload is not decodable by this codec. Implemented
    * per format family; must be deterministic. */
  trait MediaCodec extends Serializable {
    def decode(payload: Array[Byte], dim: Int): Option[(Int, Int, Array[Double])]
  }

  /** Real image decode via the JDK's `javax.imageio`. Features are the
    * luminance plane average-pooled into `dim` equal row-major pixel-index
    * buckets — deterministic, resolution-independent, and cheap enough to
    * run inline in the partition stream. Single-band (grayscale) images
    * read raster samples directly (exact, no colorspace conversion); RGB
    * images use the BT.601 luma weights. */
  object ImageIOCodec extends MediaCodec {
    def decode(payload: Array[Byte], dim: Int): Option[(Int, Int, Array[Double])] = {
      if (payload == null) return None
      try {
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(payload))
        if (img == null) None
        else {
          val w = img.getWidth; val h = img.getHeight
          val n = w * h
          val sums = new Array[Double](dim)
          val counts = new Array[Int](dim)
          val raster = img.getRaster
          val oneBand = raster.getNumBands == 1
          // normalize by the actual component depth — a 16-bit grayscale
          // PNG has samples up to 65535, not 255
          val oneBandMax =
            if (oneBand) ((1L << img.getColorModel.getComponentSize(0)) - 1).toDouble
            else 255.0
          var p = 0
          while (p < n) {
            val x = p % w; val y = p / w
            val lum =
              if (oneBand) raster.getSample(x, y, 0) / oneBandMax
              else {
                val rgb = img.getRGB(x, y)
                (0.299 * ((rgb >> 16) & 0xFF) + 0.587 * ((rgb >> 8) & 0xFF) +
                  0.114 * (rgb & 0xFF)) / 255.0
              }
            val b = (p.toLong * dim / n).toInt
            sums(b) += lum; counts(b) += 1
            p += 1
          }
          var b = 0
          while (b < dim) { if (counts(b) > 0) sums(b) /= counts(b); b += 1 }
          Some((w, h, sums))
        }
      } catch { case scala.util.control.NonFatal(_) => None }
    }
  }

  /** Deterministic grayscale test-pattern PNG: pixel p (row-major) carries
    * sample `(seed*7 + p*13) % 256`. PNG is lossless, so a decode pipeline
    * can be validated end-to-end against the analytic formula — decoded
    * luminance is exactly sample/255. */
  def syntheticPng(seed: Long, w: Int = 8, h: Int = 4): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var p = 0
    while (p < w * h) {
      raster.setSample(p % w, p / w, 0, ((seed * 7 + p * 13) % 256).toInt)
      p += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** [[syntheticPng]] behind a bounded per-JVM memo — for callers whose
    * seed space is SMALL BY CONSTRUCTION (q_payload_dedup's 50 id
    * classes). The encode is deterministic, so re-running
    * ImageIO.write per ROW is pure overhead: 500k rows at sf10d
    * measured a 7 s steady floor with 10× outlier runs (encoder lock /
    * allocation churn), all for 50 distinct byte arrays (guide §4.5 —
    * amortize heavyweight per-row state across the partition). Bounded:
    * once the memo holds `MaxPngMemo` entries, seeds not in it fall back
    * to a direct encode (seeds already in it still hit), so an
    * unbounded-seed caller cannot grow the map. The cached array is
    * shared across rows — safe, callers never mutate payloads and Spark
    * copies it into the row on write. */
  private[pipeline] val MaxPngMemo = 4096
  private val pngMemo =
    new java.util.concurrent.ConcurrentHashMap[(Long, Int, Int), Array[Byte]]()
  def syntheticPngMemo(seed: Long, w: Int = 8, h: Int = 4): Array[Byte] = {
    val key = (seed, w, h)
    val hit = pngMemo.get(key)
    if (hit != null) hit
    else if (pngMemo.size >= MaxPngMemo) syntheticPng(seed, w, h)
    else pngMemo.computeIfAbsent(key, _ => syntheticPng(seed, w, h))
  }

  /** metadata struct carried next to every payload */
  val MetadataType: StructType = StructType(Seq(
    StructField("format", StringType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("n_frames", IntegerType)))

  val MediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("payload", BinaryType),
    StructField("meta", MetadataType)))

  /** Wrap raw binary + metadata into the canonical media frame. */
  def asMediaFrame(df: DataFrame, idCol: String, payloadCol: String,
                   format: String): DataFrame =
    df.select(
      col(idCol).cast("long").as("media_id"),
      col(payloadCol).cast("binary").as("payload"),
      struct(lit(format).as("format"), lit(null).cast("int").as("width"),
        lit(null).cast("int").as("height"),
        lit(null).cast("int").as("n_frames")).as("meta"))

  /** EXACT byte-identical payload dedup — the multimodal face of
    * [[Dedup.exact]]: one group per distinct payload, reporting the
    * minimal id (the keeper), the copy count, and the payload size.
    * Grouping is on the BYTES themselves (BinaryType grouping keys
    * compare by content), so identical re-encodes collapse and near-dups
    * never do — no hash trust anywhere. One shuffle carrying the
    * payloads (the same bill text exact-dedup pays); for datasets whose
    * payloads dwarf their count, pre-hash with a (md5, length) key and
    * verify the rare collisions — not done here because a silent
    * collision would merge two DIFFERENT images. */
  def payloadDedup(df: DataFrame, idCol: String,
                   payloadCol: String): DataFrame =
    df.na.drop(Seq(idCol, payloadCol))
      .groupBy(col(payloadCol).cast("binary").as("__p"))
      .agg(min(col(idCol).cast("long")).as("keep_id"),
        count(lit(1)).as("dup_count"))
      .select(col("keep_id"), col("dup_count"),
        length(col("__p")).cast("long").as("n_bytes"))

  /** STUB decode: deterministic pseudo-features from payload bytes.
    * Real implementation would decode pixels and pool; the contract
    * (dim-`dim` double array, null payload → null features) is identical. */
  private def decodeStub(payload: Array[Byte], dim: Int): Array[Double] =
    if (payload == null) null
    else Array.tabulate(dim) { i =>
      var h = 1125899906842597L // FNV-ish deterministic fold
      var j = i
      while (j < payload.length) { h = h * 31 + payload(j); j += dim }
      (h % 1000L).toDouble / 1000.0
    }

  /** Batched feature extraction over the payload column. Runs as
    * mapPartitions: rows stream through per-partition, features computed
    * batch-local, schema appended — the exact shape a Pandas-UDF
    * `mapInPandas` decode would have. */
  def extractFeatures(df: DataFrame, dim: Int = 16): DataFrame = {
    val outSchema = StructType(df.schema.fields :+
      StructField("features", ArrayType(DoubleType)))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    val payloadIdx = df.schema.fieldIndex("payload")
    df.mapPartitions { rows =>
      rows.map { r =>
        val feats = decodeStub(r.getAs[Array[Byte]](payloadIdx), dim)
        Row.fromSeq(r.toSeq :+ (if (feats == null) null else feats.toSeq))
      }
    }(enc)
  }

  /** Decode + feature-extract with a REAL codec: decodable payloads get
    * their true width/height written into the metadata struct and
    * luminance-pooled features appended; payloads the codec rejects fall
    * back to `decodeStub` features with metadata untouched. Same
    * partition-batched shape as `extractFeatures` — one streaming pass,
    * no shuffle. */
  def decodeAndExtract(df: DataFrame, dim: Int = 16,
                       codec: MediaCodec = ImageIOCodec): DataFrame = {
    val outSchema = StructType(df.schema.fields :+
      StructField("features", ArrayType(DoubleType)))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    val payloadIdx = df.schema.fieldIndex("payload")
    val metaIdx = df.schema.fieldIndex("meta")
    df.mapPartitions { rows =>
      rows.map { r =>
        val payload = r.getAs[Array[Byte]](payloadIdx)
        codec.decode(payload, dim) match {
          case Some((w, h, feats)) =>
            val m = r.getStruct(metaIdx)
            val newMeta = Row(m.get(0), w, h, m.get(3))
            Row.fromSeq(r.toSeq.updated(metaIdx, newMeta) :+ feats.toSeq)
          case None =>
            val feats = decodeStub(payload, dim)
            Row.fromSeq(r.toSeq :+ (if (feats == null) null else feats.toSeq))
        }
      }
    }(enc)
  }

  /** STUB resize: records the requested geometry in the metadata (a real
    * impl would transcode the payload); pure projection. */
  def resize(df: DataFrame, w: Int, h: Int): DataFrame =
    df.withColumn("meta", struct(
      col("meta.format").as("format"), lit(w).as("width"),
      lit(h).as("height"), col("meta.n_frames").as("n_frames")))

  /** Frame sampling for video payloads: emit one row per sampled frame
    * index — a generator (explode), distributing frames across the
    * cluster for downstream per-frame decode. */
  def sampleFrames(df: DataFrame, everyNth: Int, maxFrames: Int = 32): DataFrame = {
    val n = coalesce(col("meta.n_frames"), lit(maxFrames))
    df.withColumn("frame_idx",
        explode(sequence(lit(0), least(n - 1, lit(maxFrames - 1)),
          lit(everyNth))))
  }
}
