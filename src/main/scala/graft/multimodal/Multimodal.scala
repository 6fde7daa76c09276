package graft.multimodal

import graft.{Cut, Tables}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column support (SURVEY §2 extension surface): image/audio/
  * video payloads as opaque `binary` columns with typed metadata, plus
  * decode / feature-extraction / resize / frame-sampling operators.
  *
  * The Spark-side plumbing is real — schema, batched partition processing
  * (the JVM analogue of `mapInPandas` batch shape), partitioning. The
  * IMAGE codec is real: [[decodeImage]]/[[imageFeatures]] decode
  * PNG/JPEG through `javax.imageio` (pure JVM, no native deps) and
  * compute exact pixel statistics. The AUDIO codec is real too (r9):
  * [[decodeWav]]/[[audioFeatures]] parse RIFF/WAVE PCM through
  * `javax.sound.sampled` — also pure JVM. VIDEO closed in r10:
  * [[parseAvi]] hand-walks the RIFF/AVI container (the same family as
  * WAV) and [[videoFeatureQuery]] decodes each MJPEG frame through the
  * real `javax.imageio` JPEG path — intra-only MJPEG needs no JDK
  * video codec, so ALL THREE modalities now run real decoders.
  * [[stubDecodeBatch]] survives only as the vectorized-call-shape
  * stand-in inside [[decodeBatch]] for payloads that are not media at
  * all (the b14_multimodal_features plumbing gate).
  */
object Multimodal {

  // ImageIO defaults to FILE-backed stream caches — a temp file per
  // decode/encode. Every payload in this module is an in-memory byte
  // array, so the disk round-trip is pure overhead (measured: the b14
  // codec queries spend more time in temp-file churn than in the
  // codec). JVM-wide, set once at object init (driver and executors
  // both touch this object before any codec call).
  javax.imageio.ImageIO.setUseCache(false)

  val assetSchema: StructType = StructType(Seq(
    StructField("asset_id", LongType, nullable = false),
    StructField("payload", BinaryType, nullable = false),
    StructField("media_type", StringType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("sample_rate", IntegerType, nullable = true)))

  /** Build a synthetic asset table from `documents` — payload = UTF-8 bytes
    * of the text, metadata derived deterministically from doc_id. */
  def assets(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir).select(
      $"doc_id".as("asset_id"),
      $"text".cast("binary").as("payload"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        ($"doc_id" % 3).cast("int") + 1).as("media_type"),
      (($"doc_id" % 8) * 160 + 320).cast("int").as("width"),
      (($"doc_id" % 8) * 90 + 180).cast("int").as("height"),
      when($"doc_id" % 3 === 1, 16000).otherwise(lit(null).cast("int")).as("sample_rate"))
  }

  /** ================= STUB: real codec goes here =================
    * Deterministic fake decode: 8 feature doubles derived from the
    * payload by a keyed 48-bit md5-prefix hash (the repo's portable
    * hash contract), mapped to [0, 1) via ONE correctly-rounded
    * division. Runs batched per partition — the exact call shape a
    * vectorized (Arrow/pandas-style) decoder needs: the decoder sees a
    * batch of payloads, not one row at a time. The hash is DELIBERATELY
    * engine-portable (r7 final — it replaced a wrapping-arithmetic fold
    * whose double accumulation order no SQL engine could replay): the
    * stub's entire job is to stand in for the codec while the
    * Spark-side plumbing (binary columns, batch shape, partition-local
    * decode, schema) is certified, and with a replayable stub the whole
    * b14_multimodal_features path DuckDB-hash-gates instead of
    * rows-only. The real-codec twin of this gate is b14_image_features. */
  def stubDecodeBatch(payloads: Seq[Array[Byte]]): Seq[Array[Double]] =
    payloads.map { bytes =>
      // ONE pass over the payload: digest the shared prefix once, clone
      // per key for the 2-byte suffix (MD5 MessageDigest is cloneable)
      val base = java.security.MessageDigest.getInstance("MD5")
      base.update(bytes)
      Array.tabulate(8) { k =>
        val md = base.clone().asInstanceOf[java.security.MessageDigest]
        md.update(s"#$k".getBytes(java.nio.charset.StandardCharsets.UTF_8))
        val hex = md.digest().take(6).map(b => f"$b%02x").mkString
        (java.lang.Long.parseLong(hex, 16) % 1000000L).toDouble / 1000000.0
      }
    }

  /** Feature extraction over the asset table: batches of `batchSize` rows
    * per call into the (stub) decoder, preserving the input partitioning —
    * no shuffle, scales linearly with executors. */
  def extractFeatures(assetsDf: DataFrame, batchSize: Int = 64): DataFrame = {
    val schema = StructType(assetsDf.schema.fields :+
      StructField("features", ArrayType(DoubleType, containsNull = false), nullable = false))
    val out = assetsDf.rdd.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        val payloadIdx = batch.head.fieldIndex("payload")
        val feats = stubDecodeBatch(batch.map(_.getAs[Array[Byte]](payloadIdx)))
        batch.iterator.zip(feats.iterator).map { case (r, f) =>
          Row.fromSeq(r.toSeq :+ f.toSeq)
        }
      }
    }
    assetsDf.sparkSession.createDataFrame(out, schema)
  }

  // =================== REAL codec: javax.imageio ===================
  // PNG/JPEG decode needs no native dependencies — ImageIO ships with
  // the JVM. The stub above remains the fallback for modalities whose
  // codecs genuinely aren't in the container (audio/video).

  /** Decode an image payload to pixels; None for non-image bytes. */
  def decodeImage(bytes: Array[Byte]): Option[java.awt.image.BufferedImage] =
    try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes)))
    catch { case _: java.io.IOException => None }

  /** 8 REAL features from decoded pixels, all deterministic integer-
    * derived doubles: decoded width/height, mean R/G/B, mean and
    * population variance of Rec.601 integer luma (299R+587G+114B, kept
    * in per-mille units), and the bright-pixel fraction (luma ≥ 128‰·128).
    * Exact rational arithmetic over pixel ints — bit-stable across runs
    * and partitionings. */
  def imageFeatures(img: java.awt.image.BufferedImage): Array[Double] = {
    val (w, h) = (img.getWidth, img.getHeight)
    var (sr, sg, sb) = (0L, 0L, 0L)
    var sluma = 0L; var sluma2 = 0L; var bright = 0L
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        val r = (rgb >> 16) & 0xff; val g = (rgb >> 8) & 0xff; val b = rgb & 0xff
        sr += r; sg += g; sb += b
        val luma = 299L * r + 587L * g + 114L * b // per-mille Rec.601
        sluma += luma; sluma2 += luma * luma
        if (luma >= 128000L) bright += 1
        x += 1
      }
      y += 1
    }
    val n = w.toLong * h
    Array(w.toDouble, h.toDouble, sr.toDouble / n, sg.toDouble / n, sb.toDouble / n,
      sluma.toDouble / (1000.0 * n),
      (sluma2.toDouble / n - (sluma.toDouble / n) * (sluma.toDouble / n)) / 1e6,
      bright.toDouble / n)
  }

  /** Batch decode: real pixels where the payload IS an image, stub
    * features otherwise — same batch-of-payloads call shape as
    * [[stubDecodeBatch]], so the two swap freely. Returns the feature
    * vector plus whether the real codec handled it. */
  def decodeBatch(payloads: Seq[Array[Byte]]): Seq[(Array[Double], Boolean)] =
    payloads.map { bytes =>
      decodeImage(bytes) match {
        case Some(img) => (imageFeatures(img), true)
        case None      => (stubDecodeBatch(Seq(bytes)).head, false)
      }
    }

  /** Feature extraction through the REAL codec path: batched per
    * partition like [[extractFeatures]], no shuffle; emits a `decoded`
    * flag so downstream routing can separate real-pixel features from
    * stub-hash features. */
  def extractFeaturesReal(assetsDf: DataFrame, batchSize: Int = 64): DataFrame = {
    val schema = StructType(assetsDf.schema.fields ++ Seq(
      StructField("features", ArrayType(DoubleType, containsNull = false), nullable = false),
      StructField("decoded", BooleanType, nullable = false)))
    val out = assetsDf.rdd.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        val payloadIdx = batch.head.fieldIndex("payload")
        val feats = decodeBatch(batch.map(_.getAs[Array[Byte]](payloadIdx)))
        batch.iterator.zip(feats.iterator).map { case (r, (f, ok)) =>
          Row.fromSeq(r.toSeq ++ Seq(f.toSeq, ok))
        }
      }
    }
    assetsDf.sparkSession.createDataFrame(out, schema)
  }

  /** Deterministic REAL-PNG asset table: each doc_id renders a 16×12
    * gradient-plus-stripe image (pixel (x,y) a pure function of
    * (doc_id, x, y)) and PNG-encodes it on the executor. PNG is
    * lossless, so decoded pixels — and every feature — are exact,
    * independent of encoder or partitioning. */
  def imageAssets(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val render = udf { (id: Long) =>
      val img = new java.awt.image.BufferedImage(16, 12,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < 12) {
        var x = 0
        while (x < 16) {
          val r = ((id * 37 + x * 16) % 256).toInt
          val g = ((id * 11 + y * 21) % 256).toInt
          val b = if ((x * (1 + id % 11) + y * (1 + id % 13) + id) % 5 == 0) 255 else 0
          img.setRGB(x, y, (r << 16) | (g << 8) | b)
          x += 1
        }
        y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    Tables.documents(s, dir).select(
      $"doc_id".as("asset_id"),
      render($"doc_id").as("payload"),
      lit("image").as("media_type"),
      lit(16).as("width"), lit(12).as("height"),
      lit(null).cast("int").as("sample_rate"))
  }

  /** Metadata-level resize: recompute dimensions, payload untouched —
    * the plan-side half of an image resize (codec half lives in the stub). */
  def resizeMeta(assetsDf: DataFrame, maxWidth: Int): DataFrame = {
    val scaleNum = least(lit(maxWidth), col("width"))
    assetsDf
      .withColumn("out_width", scaleNum.cast("int"))
      .withColumn("out_height",
        floor(col("height").cast("long") * scaleNum / col("width")).cast("int"))
  }

  /** Frame sampling for video assets: one row per sampled frame index —
    * a generate/explode, no shuffle. */
  def sampleFrames(assetsDf: DataFrame, everyN: Int = 30, maxFrames: Int = 5): DataFrame =
    assetsDf.filter(col("media_type") === "video")
      .withColumn("frame_idx",
        explode(sequence(lit(0), lit((maxFrames - 1) * everyN), lit(everyN))))
      .select(col("asset_id"), col("frame_idx"),
        octet_length(col("payload")).as("payload_bytes"))

  // ---------------------------------------------------------------- queries

  /** Plumbing query (oracle-checkable): payload sizes + metadata math. */
  def metaQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    resizeMeta(assets(s, dir), 640)
      .select($"asset_id", $"media_type",
        octet_length($"payload").as("payload_bytes"),
        $"width", $"height", $"sample_rate", $"out_width", $"out_height")
      .orderBy($"asset_id")
  }

  /** Feature extraction through the batched stub decoder — DuckDB
    * hash-gated (r7 final) since the stub hash is the engine-portable
    * md5-prefix contract: the oracle recomputes the keyed hashes from
    * the payload text and the [0,1) mapping is one correctly-rounded
    * division, so the raw doubles are bit-equal (unrounded for the
    * same reason as b14_image_features). */
  def featureQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    extractFeatures(assets(s, dir))
      .select($"asset_id", $"media_type",
        element_at($"features", 1).as("f0"),
        element_at($"features", 8).as("f7"))
      .orderBy($"asset_id")
  }

  /** REAL-pixel feature extraction end to end: deterministic PNG
    * payloads → ImageIO decode → exact pixel statistics — and (r7
    * final) DuckDB-oracle HASH-GATED by the b14_image_dhash device: the
    * payloads are losslessly-encoded closed-form pixels, so the oracle
    * recomputes the integer pixel sums from the render FORMULA and
    * applies the IDENTICAL IEEE expression tree ([[imageFeatures]]
    * accumulates exact integer sums in a fixed order, then derives
    * each feature in one fixed float expression — every op correctly
    * rounded, same shape in SQL ⇒ bit-equal doubles). The features are
    * emitted UNROUNDED for exactly that reason: `round(x, 6)` is
    * BigDecimal HALF_UP in Spark but C-library rounding in DuckDB and
    * diverges on representability edges, while the raw doubles are
    * bit-identical by construction. A green hash certifies the whole
    * render → PNG encode → decode → pixel-sum → feature path. */
  def imageFeatureQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    extractFeaturesReal(imageAssets(s, dir))
      .select($"asset_id", $"decoded",
        element_at($"features", 1).as("w"),
        element_at($"features", 2).as("h"),
        element_at($"features", 3).as("mean_r"),
        element_at($"features", 6).as("mean_luma"),
        element_at($"features", 7).as("var_luma"),
        element_at($"features", 8).as("frac_bright"))
      .orderBy($"asset_id")
  }

  /** 63-bit difference hash (dHash) from DECODED pixels: sample an 8×8
    * luma grid (x = 2i, y = (3j) div 2 over the 16×12 frame), bit
    * (j·8+i) = 1 iff luma(2i, y) > luma(2i+1, y) — the classic
    * perceptual image-dedup sketch (adjacent-pixel gradient signs
    * survive re-encode/resize noise). 63 bits (the (7,7) position is
    * dropped) so the value stays a positive BIGINT in every engine. */
  def imageDHash(img: java.awt.image.BufferedImage): Long = {
    def luma(x: Int, y: Int): Long = {
      val rgb = img.getRGB(x, y)
      299L * ((rgb >> 16) & 0xff) + 587L * ((rgb >> 8) & 0xff) + 114L * (rgb & 0xff)
    }
    var h = 0L
    var j = 0
    while (j < 8) {
      val y = (3 * j) / 2
      var i = 0
      while (i < 8) {
        if (!(i == 7 && j == 7) && luma(2 * i, y) > luma(2 * i + 1, y))
          h |= 1L << (j * 8 + i)
        i += 1
      }
      j += 1
    }
    h
  }

  /** B14 (r7): image perceptual-hash report over the REAL codec path —
    * and, uniquely for an image operator, DuckDB-oracle HASH-GATED: the
    * asset payloads are losslessly PNG-encoded closed-form pixels, so
    * the oracle replays the pixel FORMULA while Spark decodes the actual
    * bytes — a green hash proves the whole decode→luma→dHash path is
    * exact, not just deterministic. Per asset: the 63-bit dHash and how
    * many corpus images share it (the image exact-dup clustering signal;
    * near-dup = Hamming-close, pinned in the spec via a perturbed
    * re-encode). Scale: decode is partition-local (no shuffle); the
    * share-count is one combinable aggregate on the hash. */
  def imageDHashQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val df = dhashFrame(s, dir)
    val counts = df.groupBy($"dhash").agg(count(lit(1)).as("n_same_hash"))
    df.join(counts, Seq("dhash"))
      .select($"asset_id", $"dhash", $"n_same_hash")
      .orderBy($"asset_id")
  }

  /** (asset_id, dhash) through the REAL render→PNG→decode path,
    * checkpointed — every dhash consumer reads it once; a second plan
    * reference would re-render and re-decode every PNG. */
  private def dhashFrame(s: SparkSession, dir: String): DataFrame = {
    val assetsDf = imageAssets(s, dir)
    val out = assetsDf.select(col("asset_id"), col("payload")).rdd.mapPartitions { rows =>
      rows.map { r =>
        val h = decodeImage(r.getAs[Array[Byte]](1)).map(imageDHash).getOrElse(-1L)
        Row(r.getLong(0), h)
      }
    }
    s.createDataFrame(out, StructType(Seq(
      StructField("asset_id", LongType, nullable = false),
      StructField("dhash", LongType, nullable = false))))
      .transform(Cut.eager)
  }

  /** B14 (r7): image NEAR-dup clustering by perceptual hash — the
    * full image-dedup operator ([[imageDHashQuery]] stops at exact hash
    * groups): assets whose dHashes differ by ≤ `maxDist` bits land in
    * one cluster with a canonical representative (the training pipeline
    * drops `asset_id != cluster_rep`).
    *
    * Scale shape — dedup at SKETCH granularity, never asset granularity:
    * the corpus-sized work is one decode scan plus one combinable
    * group-by dhash; the quadratic-looking near-link stage runs over the
    * DISTINCT hash table (vocabulary-sized — duplicate-heavy corpora
    * have few distinct sketches, which is exactly when dedup matters)
    * through a pigeonhole chunk join: 7 chunks of 9 bits, so two hashes
    * within Hamming 6 MUST agree on ≥1 chunk (≤6 chunks can differ) and
    * the equi-join on (chunk_idx, chunk_val) is candidate-COMPLETE —
    * the same lossless-pruning theorem as the SimHash chunk join, here
    * applied hash-to-hash. Verified links (`bit_count(xor) ≤ maxDist`)
    * feed the O(log n) large-star/small-star CC kernel; isolated hashes
    * keep their own label. A green DuckDB hash certifies decode → luma →
    * dHash → chunk-join → Hamming verify → connected components → asset
    * assignment end to end (the oracle replays the render formula and
    * brute-forces the distinct-hash links — pruning losslessness checked
    * cross-engine). */
  def imageNearDupClusters(s: SparkSession, dir: String, maxDist: Int = 6): DataFrame = {
    import s.implicits._
    // the 7×9-bit pigeonhole is candidate-complete only while fewer
    // chunks can differ than exist — a larger radius needs more chunks,
    // not a silent recall hole
    require(maxDist >= 0 && maxDist <= 6,
      s"imageNearDupClusters: maxDist=$maxDist breaks the 7-chunk pigeonhole " +
        "guarantee (complete only for Hamming <= 6); derive more chunks instead")
    val df = dhashFrame(s, dir)
    // hash-granularity reduction: one row per distinct sketch
    val hashes = df.groupBy($"dhash")
      .agg(count(lit(1)).as("n_assets"), min($"asset_id").as("min_asset"))
      .transform(Cut.eager) // chunk explode + two label joins read it
    val chunks = hashes.select($"dhash",
      explode(expr("transform(sequence(0, 6), c -> " +
        "struct(c AS ci, shiftright(dhash, 9 * c) % 512 AS cv))")).as("ch"))
      .select($"dhash", $"ch.ci", $"ch.cv")
    val links = chunks.select($"dhash".as("ha"), $"ci", $"cv")
      .join(chunks.select($"dhash".as("hb"), $"ci", $"cv"), Seq("ci", "cv"))
      .filter($"ha" < $"hb")
      .select($"ha", $"hb").distinct()
      .filter(bit_count($"ha".bitwiseXOR($"hb")) <= maxDist)
    val labels = graft.dedup.Dedup.connectedComponentsStar(
      links.select($"ha".as("a"), $"hb".as("b")))
    val labeled = hashes.join(labels.select($"u".as("dhash"), $"label"),
        Seq("dhash"), "left_outer")
      .withColumn("label", coalesce($"label", $"dhash"))
    val clusters = labeled.groupBy($"label")
      .agg(sum($"n_assets").as("cluster_size"), min($"min_asset").as("cluster_rep"))
    val byHash = labeled.join(clusters, Seq("label"))
      .select($"dhash", $"cluster_rep", $"cluster_size")
    df.join(byHash, Seq("dhash"))
      .select($"asset_id", $"dhash", $"cluster_rep", $"cluster_size")
      .orderBy($"asset_id")
  }

  private def imageNearDupQuery(s: SparkSession, dir: String): DataFrame =
    imageNearDupClusters(s, dir)

  /** Frame sampling query (oracle-checkable plumbing). */
  def framesQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    sampleFrames(assets(s, dir)).orderBy($"asset_id", $"frame_idx")
  }

  /** B14: modality-aware batch packing — [[graft.ops.Relational2
    * .sequencePack]]'s multimodal twin: assets fill fixed-budget training
    * batches in (shard, asset_id) order, but the per-item cost is the
    * MODALITY-DEPENDENT compute footprint, not a token count — ViT-style
    * patch counts for images (⌈w/16⌉·⌈h/16⌉), 10 ms frame counts for
    * audio (rate/160), sampled-frame × coarse-patch products for video.
    * All-integer cost model and a per-SHARD cumulative window (the unit
    * a training reader consumes — never a global cumsum), so the packing
    * is engine-portable and oracle-checked like the text variant. */
  def multimodalPack(s: SparkSession, dir: String, capacity: Int = 8192,
                     numShards: Int = 8): DataFrame = {
    import s.implicits._
    val cost = when($"media_type" === "image",
        expr("((width + 15) div 16) * ((height + 15) div 16)"))
      .when($"media_type" === "audio", expr("sample_rate div 160"))
      .otherwise(expr("5 * (((width + 31) div 32) * ((height + 31) div 32))"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"shard").orderBy($"asset_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    assets(s, dir)
      .select($"asset_id", $"media_type",
        pmod($"asset_id", lit(numShards)).cast("int").as("shard"),
        cost.cast("long").as("cost"))
      .withColumn("cum_cost", sum($"cost").over(w))
      .withColumn("pack_id", ceil($"cum_cost".cast("double") / capacity).cast("int"))
      .orderBy($"shard", $"asset_id")
  }

  private def packQuery(s: SparkSession, dir: String): DataFrame =
    multimodalPack(s, dir)

  // =================== REAL codec: javax.sound (WAV/PCM) ===========
  // The audio half of the codec story stops being a stub (r9): PCM WAV
  // needs no native dependencies either — javax.sound.sampled ships
  // with the JVM. Video remains the one genuinely container-blocked
  // modality (no JDK codec), documented as such.

  /** Synthetic WAV asset table: per document, 0.1 s of 8 kHz 16-bit
    * mono PCM — a square wave whose amplitude and period derive from
    * doc_id by exact integer formulas (amp = (id%8+1)·3000, period =
    * id%37+8 samples), serialized as a real RIFF/WAVE byte stream. The
    * payload is a REAL audio file (AudioSystem parses it); the sample
    * values have a closed form both engines can replay. */
  def audioAssets(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val render = udf { (id: Long) =>
      val n = 800
      val amp = ((id % 8) + 1).toInt * 3000
      val p = ((id % 37) + 8).toInt
      val bb = java.nio.ByteBuffer.allocate(44 + 2 * n)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + 2 * n)
        .put("WAVE".getBytes("US-ASCII"))
        .put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1).putShort(1) // PCM, mono
        .putInt(8000).putInt(16000) // rate, byte rate
        .putShort(2).putShort(16) // block align, bits
        .put("data".getBytes("US-ASCII")).putInt(2 * n)
      var t = 0
      while (t < n) {
        bb.putShort((if ((t / p) % 2 == 0) amp else -amp).toShort)
        t += 1
      }
      bb.array()
    }
    Tables.documents(s, dir).select(
      $"doc_id".as("asset_id"),
      render($"doc_id").as("payload"),
      lit("audio").as("media_type"),
      lit(8000).as("sample_rate"))
  }

  /** Decode a WAV payload to 16-bit PCM samples through the REAL
    * javax.sound codec; None for non-audio bytes. r10 (ADVICE): the
    * decoded [[javax.sound.sampled.AudioFormat]] is validated before the
    * byte-wise PCM16LE reinterpretation — a WAV javax.sound accepts that
    * is NOT 16-bit mono little-endian signed PCM (8-bit, big-endian,
    * μ-law, stereo) used to come back as Some(garbage samples), defeating
    * the loud-fail contract [[audioFeatureQuery]] relies on; an odd
    * trailing byte was silently dropped. All of those now return None. */
  def decodeWav(bytes: Array[Byte]): Option[Array[Int]] =
    try {
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      val fmt = in.getFormat
      val pcm16leMono =
        fmt.getEncoding == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED &&
          fmt.getSampleSizeInBits == 16 && !fmt.isBigEndian && fmt.getChannels == 1
      val raw = in.readAllBytes(); in.close()
      if (!pcm16leMono || raw.length % 2 != 0) None
      else {
        val bb = java.nio.ByteBuffer.wrap(raw)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        Some(Array.fill(raw.length / 2)(bb.getShort().toInt))
      }
    } catch { case _: Exception => None }

  /** Exact integer features over decoded samples: count, peak |s|,
    * Σ|s|, Σs² (the energy — BIGINT-exact), sign-change count, plus
    * RMS as ONE IEEE sqrt over the exact sums. The audio analogue of
    * [[imageFeatures]]: every aggregate integer-derived, bit-stable. */
  def audioFeatures(samples: Array[Int]): (Long, Long, Long, Long, Long) = {
    var (peak, sabs, ssq, zc) = (0L, 0L, 0L, 0L)
    var i = 0
    while (i < samples.length) {
      val v = samples(i).toLong
      val a = math.abs(v)
      if (a > peak) peak = a
      sabs += a; ssq += v * v
      if (i > 0 && ((samples(i - 1) < 0 && v >= 0) || (samples(i - 1) >= 0 && v < 0)))
        zc += 1
      i += 1
    }
    (samples.length.toLong, peak, sabs, ssq, zc)
  }

  /** B14 (r9): REAL audio decode + feature extraction — batched
    * partition-local like [[extractFeaturesReal]] (the vectorized-
    * decoder call shape), one row per asset, hash-gated against the
    * closed-form waveform oracle. */
  def audioFeatureQuery(s: SparkSession, dir: String): DataFrame = {
    val src = audioAssets(s, dir)
    val schema = StructType(Seq(
      StructField("asset_id", LongType, nullable = false),
      StructField("n_samples", LongType, nullable = false),
      StructField("peak", LongType, nullable = false),
      StructField("sum_abs", LongType, nullable = false),
      StructField("energy", LongType, nullable = false),
      StructField("n_zero_cross", LongType, nullable = false)))
    val out = src.select("asset_id", "payload").rdd.mapPartitions { rows =>
      rows.grouped(64).flatMap { batch =>
        batch.iterator.map { r =>
          val samples = decodeWav(r.getAs[Array[Byte]](1))
            .getOrElse(sys.error(s"b14_audio_features: undecodable WAV for asset ${r.getLong(0)}"))
          val (n, peak, sabs, ssq, zc) = audioFeatures(samples)
          Row(r.getLong(0), n, peak, sabs, ssq, zc)
        }
      }
    }
    val df = s.createDataFrame(out, schema)
    df.withColumn("rms", sqrt(col("energy").cast("double") / col("n_samples")))
      .orderBy(col("asset_id"))
  }

  // ============== REAL codec: MJPEG-in-AVI (video, r10) ============
  // The last container-blocked modality closes pure-JVM (VERDICT r9
  // #5): AVI is RIFF — the same container family the WAV decode
  // shipped in r9 — and an MJPEG stream's frames are baseline JPEGs,
  // which javax.imageio already decodes for the image path. No JDK
  // video CODEC is needed because MJPEG is intra-only: the hand-walked
  // RIFF container parse below plus the real JPEG decode IS the video
  // decode.

  private[multimodal] val VideoFrames = 4
  private[multimodal] val VideoW = 16
  private[multimodal] val VideoH = 16

  /** Quadrant gray value — the closed form both engines replay: frame
    * f of asset id, quadrant k (row-major over the four 8×8 blocks). */
  private[multimodal] def quadGray(id: Long, f: Int, k: Int): Int =
    ((id * 31 + f * 17 + k * 53) % 256).toInt

  /** JPEG-encode one 16×16 8-bit gray frame (four constant 8×8
    * quadrants) at quality 1.0. A constant JPEG block carries only its
    * DC coefficient, which baseline JPEG at max quality preserves
    * EXACTLY — measured 16384/16384 pixels across the gray range, and
    * MultimodalSpec pins the round trip — so the decoded pixels have a
    * closed form while the REAL lossy-codec machinery (DCT, quant,
    * entropy coding) still runs. Gray (single-component) deliberately:
    * an RGB frame would pass through the encoder's YCbCr transform,
    * whose rounding has no engine-portable closed form. */
  private[multimodal] def encodeJpegGray(quads: Array[Int]): Array[Byte] =
    encodeJpegGrayWith(newJpegWriter(), quads)

  /** One writer per PARTITION, not per frame: the service-provider
    * lookup + writer construction dominate a 16×16 encode, so the
    * render path amortizes them across the partition (same batch-shape
    * reasoning as [[extractFeatures]]); an ImageWriter is reusable by
    * re-setting its output between writes. */
  private[multimodal] def newJpegWriter(): javax.imageio.ImageWriter =
    javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()

  private[multimodal] def encodeJpegGrayWith(
      w: javax.imageio.ImageWriter, quads: Array[Int]): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(VideoW, VideoH,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    var y = 0
    while (y < VideoH) {
      var x = 0
      while (x < VideoW) {
        img.getRaster.setSample(x, y, 0, quads((y / 8) * 2 + x / 8))
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    val p = w.getDefaultWriteParam
    p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    p.setCompressionQuality(1.0f)
    val out = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
    w.setOutput(out)
    w.write(null, new javax.imageio.IIOImage(img, null, null), p)
    out.close()
    bos.toByteArray
  }

  /** Minimal-but-well-formed MJPEG AVI: RIFF('AVI ', LIST hdrl(avih,
    * LIST strl(strh 'vids'/'MJPG', strf BITMAPINFOHEADER)), LIST movi
    * of word-aligned '00dc' chunks). Field layout per the public AVI
    * RIFF spec; every length field is computed, so frames of any size
    * (odd JPEG lengths included — the RIFF pad byte) wrap correctly. */
  private[multimodal] def buildAvi(frames: Seq[Array[Byte]], w: Int, h: Int,
      fps: Int): Array[Byte] = {
    def chunk(id: String, body: Array[Byte]): Array[Byte] = {
      val pad = body.length & 1
      val bb = java.nio.ByteBuffer.allocate(8 + body.length + pad)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put(id.getBytes("US-ASCII")).putInt(body.length).put(body)
      bb.array()
    }
    def list(listType: String, bodies: Seq[Array[Byte]]): Array[Byte] = {
      val inner = bodies.foldLeft(Array.emptyByteArray)(_ ++ _)
      chunk("LIST", listType.getBytes("US-ASCII") ++ inner)
    }
    val maxFrame = frames.map(_.length).max
    val avih = {
      val bb = java.nio.ByteBuffer.allocate(56).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.putInt(1000000 / fps).putInt(maxFrame * fps).putInt(0)
        .putInt(0x10) // AVIF_HASINDEX off, AVIF_WASCAPTUREFILE off; 0x10 = HASINDEX... we ship no idx1, so flags 0
      bb.position(12); bb.putInt(0) // no flags: no index chunk is written
      bb.putInt(frames.length).putInt(0).putInt(1).putInt(maxFrame)
        .putInt(w).putInt(h).putInt(0).putInt(0).putInt(0).putInt(0)
      chunk("avih", bb.array())
    }
    val strh = {
      val bb = java.nio.ByteBuffer.allocate(56).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("vids".getBytes("US-ASCII")).put("MJPG".getBytes("US-ASCII"))
        .putInt(0).putShort(0).putShort(0).putInt(0)
        .putInt(1).putInt(fps) // scale/rate
        .putInt(0).putInt(frames.length).putInt(maxFrame)
        .putInt(-1).putInt(0) // quality default, not sample-based
        .putShort(0).putShort(0).putShort(w.toShort).putShort(h.toShort)
      chunk("strh", bb.array())
    }
    val strf = {
      val bb = java.nio.ByteBuffer.allocate(40).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
        .put("MJPG".getBytes("US-ASCII")).putInt(w * h * 3)
        .putInt(0).putInt(0).putInt(0).putInt(0)
      chunk("strf", bb.array())
    }
    val hdrl = list("hdrl", Seq(avih, list("strl", Seq(strh, strf))))
    val movi = list("movi", frames.map(chunk("00dc", _)))
    val riffBody = "AVI ".getBytes("US-ASCII") ++ hdrl ++ movi
    val bb = java.nio.ByteBuffer.allocate(8 + riffBody.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(riffBody.length).put(riffBody)
    bb.array()
  }

  /** Parsed MJPEG AVI: header dims + declared frame count, and every
    * movi '00dc'/'00db' payload in stream order. */
  final case class AviVideo(width: Int, height: Int, totalFrames: Int,
      frames: Seq[Array[Byte]])

  /** RIFF walk over an AVI payload: None for anything that is not a
    * well-formed AVI with an MJPG video stream whose declared frame
    * count matches the movi chunks — the same loud-fail contract as
    * [[decodeWav]] (malformed/mismatched containers must never come
    * back as Some-with-wrong-data). */
  def parseAvi(bytes: Array[Byte]): Option[AviVideo] =
    try {
      val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      def fourcc(): String = {
        val a = new Array[Byte](4); bb.get(a); new String(a, "US-ASCII")
      }
      if (fourcc() != "RIFF") return None
      val riffEnd = { val sz = bb.getInt; bb.position() + sz }
      if (fourcc() != "AVI ") return None
      var width = -1; var height = -1; var total = -1; var mjpg = false
      val frames = scala.collection.mutable.ArrayBuffer[Array[Byte]]()
      def walk(end: Int): Unit =
        while (bb.position() + 8 <= end) {
          val id = fourcc(); val sz = bb.getInt
          val next = bb.position() + sz + (sz & 1)
          if (next > end) sys.error("chunk overruns its parent")
          id match {
            case "LIST" =>
              fourcc() // list type; contents decide relevance
              walk(bb.position() + sz - 4)
            case "avih" =>
              bb.getInt(); bb.getInt(); bb.getInt(); bb.getInt()
              total = bb.getInt()
              bb.getInt(); bb.getInt(); bb.getInt()
              width = bb.getInt(); height = bb.getInt()
            case "strh" =>
              val fccType = fourcc(); val handler = fourcc()
              if (fccType == "vids") mjpg = handler == "MJPG"
            case "00dc" | "00db" =>
              val payload = new Array[Byte](sz); bb.get(payload)
              frames += payload
            case _ => ()
          }
          bb.position(next)
        }
      walk(riffEnd)
      if (width > 0 && height > 0 && mjpg && total == frames.length && total > 0)
        Some(AviVideo(width, height, total, frames.toSeq))
      else None
    } catch { case _: Exception => None }

  /** Synthetic MJPEG-in-AVI asset table: per document, [[VideoFrames]]
    * 16×16 gray frames whose four 8×8 quadrant values derive from
    * (doc_id, frame, quadrant) by [[quadGray]], JPEG-encoded at
    * quality 1.0 and wrapped in a real AVI container on the executor.
    * The payload is a REAL video file; the decoded pixels have a
    * closed form (see [[encodeJpegGray]]). */
  def videoAssets(s: SparkSession, dir: String): DataFrame = {
    val src = Tables.documents(s, dir).select(col("doc_id"))
    val schema = StructType(Seq(
      StructField("asset_id", LongType, nullable = false),
      StructField("payload", BinaryType, nullable = false),
      StructField("media_type", StringType, nullable = false)))
    // partition-local writer reuse (see newJpegWriter) + frame memo:
    // quadGray(id,f,k) = (base + 53k) % 256 with base = (31·id+17·f) %
    // 256, so only 256 DISTINCT frames exist corpus-wide — each
    // partition encodes a base at most once and assembles containers
    // from the memo (fixture machinery; the DECODE side stays one real
    // codec pass per frame, it is the operator being certified).
    // Renders stay a narrow scan-side pass, no shuffle.
    val out = src.rdd.mapPartitions { rows =>
      val w = newJpegWriter()
      val memo = new Array[Array[Byte]](256)
      def frameFor(base: Int): Array[Byte] = {
        if (memo(base) == null)
          memo(base) = encodeJpegGrayWith(w,
            Array.tabulate(4)(k => (base + 53 * k) % 256))
        memo(base)
      }
      rows.map { r =>
        val id = r.getLong(0)
        val avi = buildAvi((0 until VideoFrames).map(f =>
          frameFor(((id * 31 + f * 17) % 256).toInt)),
          VideoW, VideoH, fps = 10)
        Row(id, avi, "video")
      }
    }
    s.createDataFrame(out, schema)
  }

  /** Exact per-frame stats over raw 8-bit gray samples — read from the
    * raster directly ([[java.awt.image.BufferedImage#getRGB]] on a gray
    * image would pass through the gray→sRGB colorspace transform, which
    * has no engine-portable closed form): (sum, sum of squares, bright
    * count ≥128). n = 256 per frame, so every derived mean/variance is
    * a division by a power of two — IEEE-exact on both engines. */
  private[multimodal] def grayFrameStats(
      img: java.awt.image.BufferedImage): (Long, Long, Long) = {
    var (sum, ssq, bright) = (0L, 0L, 0L)
    var y = 0
    while (y < img.getHeight) {
      var x = 0
      while (x < img.getWidth) {
        val v = img.getRaster.getSample(x, y, 0).toLong
        sum += v; ssq += v * v
        if (v >= 128) bright += 1
        x += 1
      }
      y += 1
    }
    (sum, ssq, bright)
  }

  /** B14 (r10): REAL video decode + per-frame features — AVI container
    * parse, then the image path's javax.imageio JPEG decode per frame;
    * batched partition-local like the other codec queries, one row per
    * (asset, frame), hash-gated against the closed-form quadrant
    * oracle. Undecodable containers/frames fail LOUDLY. */
  def videoFeatureQuery(s: SparkSession, dir: String): DataFrame = {
    val src = videoAssets(s, dir)
    val schema = StructType(Seq(
      StructField("asset_id", LongType, nullable = false),
      StructField("frame_idx", IntegerType, nullable = false),
      StructField("n_frames", IntegerType, nullable = false),
      StructField("width", IntegerType, nullable = false),
      StructField("height", IntegerType, nullable = false),
      StructField("gray_sum", LongType, nullable = false),
      StructField("gray_ssq", LongType, nullable = false),
      StructField("bright_n", LongType, nullable = false)))
    val out = src.select("asset_id", "payload").rdd.mapPartitions { rows =>
      // partition-local reader reuse — the reader lookup/construction
      // dominates a 16×16 JPEG decode, same reasoning as newJpegWriter
      val rd = javax.imageio.ImageIO.getImageReadersByFormatName("jpeg").next()
      def decodeWith(bytes: Array[Byte]): Option[java.awt.image.BufferedImage] =
        try {
          val iis = javax.imageio.ImageIO.createImageInputStream(
            new java.io.ByteArrayInputStream(bytes))
          rd.setInput(iis, true, true)
          val img = rd.read(0)
          iis.close()
          Option(img)
        } catch { case _: Exception => None }
      rows.grouped(64).flatMap { batch =>
        batch.iterator.flatMap { r =>
          val id = r.getLong(0)
          val av = parseAvi(r.getAs[Array[Byte]](1))
            .getOrElse(sys.error(s"b14_video_features: undecodable AVI for asset $id"))
          av.frames.iterator.zipWithIndex.map { case (jpeg, f) =>
            val img = decodeWith(jpeg)
              .getOrElse(sys.error(s"b14_video_features: undecodable frame $f of asset $id"))
            val (sum, ssq, bright) = grayFrameStats(img)
            Row(id, f, av.totalFrames, av.width, av.height, sum, ssq, bright)
          }
        }
      }
    }
    s.createDataFrame(out, schema)
      .withColumn("mean_gray", col("gray_sum").cast("double") / lit(VideoW * VideoH))
      .withColumn("var_gray",
        col("gray_ssq").cast("double") / lit(VideoW * VideoH)
          - (col("gray_sum").cast("double") / lit(VideoW * VideoH))
            * (col("gray_sum").cast("double") / lit(VideoW * VideoH)))
      .withColumn("bright_frac", col("bright_n").cast("double") / lit(VideoW * VideoH))
      .orderBy(col("asset_id"), col("frame_idx"))
  }

  /** E7 (r9): end-to-end MULTIMODAL curation — the seventh flagship,
    * composing the b14 kernels into the pipeline an image-corpus
    * ingest actually runs: real PNG decode → 63-bit perceptual dHash
    * (partition-local codec work, the b14_image_dhash kernel) →
    * perceptual near-dup clustering at Hamming ≤ 6 keeping each
    * cluster's min-id REPRESENTATIVE (re-encoded/metadata-tweaked
    * copies of the same pixels collapse) → gradient-degeneracy quality
    * gate (images whose dhash has < 8 or > 55 gradient bits are
    * near-flat or noise-saturated — the deterministic stand-in for a
    * blur/entropy screen, replayable as one bit_count) → capacity-
    * bound pack planning over the survivors (the b14_multimodal_pack
    * cost model on catalog dims). Scale shape: decode/hash scan-side;
    * clustering at HASH granularity (distinct sketches, not assets)
    * through the pigeonhole chunk join; packing one per-shard
    * cumulative window. Whole pipeline DuckDB-replayed (recursive-CTE
    * components + bit_count gate + pack windows) as
    * e07_multimodal_curation. */
  def multimodalCuration(s: SparkSession, dir: String,
      capacity: Int = 8192, numShards: Int = 8): DataFrame = {
    import s.implicits._
    val reps = imageNearDupClusters(s, dir)
      .filter($"asset_id" === $"cluster_rep")
      .filter(bit_count($"dhash").between(8, 55))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"shard").orderBy($"asset_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    reps
      .withColumn("shard", pmod($"asset_id", lit(numShards)).cast("int"))
      .withColumn("cost", expr(
        """CAST((((asset_id % 8) * 160 + 320 + 15) div 16)
           * (((asset_id % 8) * 90 + 180 + 15) div 16) AS BIGINT)"""))
      .withColumn("cum_cost", sum($"cost").over(w))
      .withColumn("pack_id", ceil($"cum_cost".cast("double") / capacity).cast("int"))
      .select($"asset_id", $"dhash", $"cluster_size", $"shard",
        $"cost", $"cum_cost", $"pack_id")
      .orderBy($"shard", $"asset_id")
  }

  private def curationQuery(s: SparkSession, dir: String): DataFrame =
    multimodalCuration(s, dir)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "e07_multimodal_curation" -> (curationQuery _),
    "b14_audio_features" -> (audioFeatureQuery _),
    "b14_video_features" -> (videoFeatureQuery _),
    "b14_multimodal_meta" -> (metaQuery _),
    "b14_multimodal_features" -> (featureQuery _),
    "b14_image_features" -> (imageFeatureQuery _),
    "b14_image_dhash" -> (imageDHashQuery _),
    "b14_image_neardup" -> (imageNearDupQuery _),
    "b14_multimodal_frames" -> (framesQuery _),
    "b14_multimodal_pack" -> (packQuery _),
  )

  /** The render-formula dhash + hash-granularity clustering chain —
    * ONE definition shared by the b14_image_neardup and e07 oracles
    * (the kMeansCtes no-drift device): pos/lum replay the 16×12 pixel
    * formula and the 63-bit gradient hash, hs/lnk/reach/lbl/cl replay
    * brute-force Hamming ≤ 6 links + recursive-CTE components +
    * min-asset representatives. Callers open with WITH RECURSIVE. */
  private val DhashClusterCtes: String = """pos AS (SELECT i, j, (3 * j) // 2 AS y
                   FROM range(8) t1(i), range(8) t2(j)
                   WHERE NOT (i = 7 AND j = 7)),
      lum AS (SELECT d.doc_id, p.i, p.j,
                (299 * ((d.doc_id * 37 + (2 * p.i) * 16) % 256)
                 + 587 * ((d.doc_id * 11 + p.y * 21) % 256)
                 + 114 * (CASE WHEN ((2 * p.i) * (1 + d.doc_id % 11) + p.y * (1 + d.doc_id % 13) + d.doc_id) % 5 = 0
                          THEN 255 ELSE 0 END)) AS l1,
                (299 * ((d.doc_id * 37 + (2 * p.i + 1) * 16) % 256)
                 + 587 * ((d.doc_id * 11 + p.y * 21) % 256)
                 + 114 * (CASE WHEN ((2 * p.i + 1) * (1 + d.doc_id % 11) + p.y * (1 + d.doc_id % 13) + d.doc_id) % 5 = 0
                          THEN 255 ELSE 0 END)) AS l2
              FROM documents d, pos p),
      h AS (SELECT doc_id AS asset_id,
              CAST(SUM(CASE WHEN l1 > l2
                       THEN (CAST(1 AS BIGINT) << (j * 8 + i)) ELSE 0 END)
                   AS BIGINT) AS dhash
            FROM lum GROUP BY 1),
      hs AS (SELECT dhash, COUNT(*) AS n_assets, MIN(asset_id) AS min_asset
             FROM h GROUP BY 1),
      lnk AS (SELECT a.dhash AS ha, b.dhash AS hb
              FROM hs a JOIN hs b ON a.dhash < b.dhash
              WHERE bit_count(xor(a.dhash, b.dhash)) <= 6),
      sym AS (SELECT ha AS u, hb AS v FROM lnk UNION SELECT hb, ha FROM lnk),
      reach AS (SELECT u, v FROM sym
                UNION
                SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
                WHERE s.v <> r.u),
      lbl AS (SELECT u AS dhash, CAST(LEAST(u, MIN(v)) AS BIGINT) AS label
              FROM reach GROUP BY u),
      labeled AS (SELECT hs.dhash, hs.n_assets, hs.min_asset,
                    COALESCE(lbl.label, hs.dhash) AS label
                  FROM hs LEFT JOIN lbl USING (dhash)),
      cl AS (SELECT label, SUM(n_assets) AS cluster_size,
                    MIN(min_asset) AS cluster_rep
             FROM labeled GROUP BY label)"""

  val oracles: Map[String, String] = Map(
    // closed-form waveform replay: the WAV payload's PCM samples have
    // the exact integer formula the synthesizer used; the engine reads
    // them back through the REAL javax.sound codec (PCM16 round-trips
    // losslessly), so formula == decode and the aggregates hash-match
    // the decoded pixels ARE the quadrant closed form (constant 8x8
    // JPEG blocks at quality 1.0 round-trip exactly — spec-pinned), so
    // the oracle replays (doc, frame, quadrant) arithmetic; every
    // division is by a power of two (n = 256), IEEE-exact both engines
    "b14_video_features" -> """
      WITH f AS (SELECT unnest(range(4)) AS frame_idx),
      q AS (SELECT unnest(range(4)) AS k),
      g AS (SELECT d.doc_id AS asset_id, f.frame_idx, q.k,
              (d.doc_id * 31 + f.frame_idx * 17 + q.k * 53) % 256 AS gray
            FROM documents d, f, q),
      s AS (SELECT asset_id, frame_idx,
              64 * SUM(gray) AS gray_sum,
              64 * SUM(gray * gray) AS gray_ssq,
              64 * SUM(CASE WHEN gray >= 128 THEN 1 ELSE 0 END) AS bright_n
            FROM g GROUP BY asset_id, frame_idx)
      SELECT asset_id, CAST(frame_idx AS INT) AS frame_idx,
             4 AS n_frames, 16 AS width, 16 AS height,
             CAST(gray_sum AS BIGINT) AS gray_sum,
             CAST(gray_ssq AS BIGINT) AS gray_ssq,
             CAST(bright_n AS BIGINT) AS bright_n,
             CAST(gray_sum AS DOUBLE) / 256 AS mean_gray,
             CAST(gray_ssq AS DOUBLE) / 256
               - (CAST(gray_sum AS DOUBLE) / 256) * (CAST(gray_sum AS DOUBLE) / 256)
               AS var_gray,
             CAST(bright_n AS DOUBLE) / 256 AS bright_frac
      FROM s ORDER BY asset_id, frame_idx""",
    "b14_audio_features" -> """
      WITH ts AS (SELECT unnest(range(800)) AS t),
      a AS (SELECT doc_id AS asset_id,
              (doc_id % 8 + 1) * 3000 AS amp, doc_id % 37 + 8 AS p
            FROM documents),
      s AS (SELECT a.asset_id, ts.t,
              CASE WHEN (ts.t // a.p) % 2 = 0 THEN a.amp ELSE -a.amp END AS v
            FROM a, ts),
      lagged AS (SELECT *, LAG(v) OVER (PARTITION BY asset_id ORDER BY t) AS pv
                 FROM s),
      f AS (SELECT asset_id, COUNT(*) AS n_samples,
              CAST(MAX(ABS(v)) AS BIGINT) AS peak,
              CAST(SUM(ABS(v)) AS BIGINT) AS sum_abs,
              CAST(SUM(v * v) AS BIGINT) AS energy,
              CAST(SUM(CASE WHEN pv IS NOT NULL
                            AND ((pv < 0 AND v >= 0) OR (pv >= 0 AND v < 0))
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_cross
            FROM lagged GROUP BY asset_id)
      SELECT asset_id, n_samples, peak, sum_abs, energy, n_zero_cross,
             sqrt(CAST(energy AS DOUBLE) / n_samples) AS rms
      FROM f ORDER BY asset_id""",
    // the stub codec is the portable keyed md5-prefix hash — replay it
    // and divide once; payload = UTF-8 text bytes, so md5(text || key)
    // hashes the identical byte stream in both engines
    "b14_multimodal_features" -> """
      SELECT doc_id AS asset_id,
             ['image','audio','video'][CAST(doc_id % 3 AS INT) + 1] AS media_type,
             CAST(CAST(('0x' || substr(md5(text || '#0'), 1, 12)) AS BIGINT) % 1000000
                  AS DOUBLE) / 1000000.0 AS f0,
             CAST(CAST(('0x' || substr(md5(text || '#7'), 1, 12)) AS BIGINT) % 1000000
                  AS DOUBLE) / 1000000.0 AS f7
      FROM documents ORDER BY asset_id""",
    // integer pixel sums from the render formula + the IDENTICAL IEEE
    // expression tree as imageFeatures — raw doubles are bit-equal
    "b14_image_features" -> """
      WITH pos AS (SELECT x, y FROM range(16) t1(x), range(12) t2(y)),
      px AS (SELECT d.doc_id,
               (d.doc_id * 37 + p.x * 16) % 256 AS r,
               (d.doc_id * 11 + p.y * 21) % 256 AS g,
               CASE WHEN (p.x * (1 + d.doc_id % 11) + p.y * (1 + d.doc_id % 13) + d.doc_id) % 5 = 0 THEN 255 ELSE 0 END AS b
             FROM documents d, pos p),
      sums AS (SELECT doc_id AS asset_id,
                 CAST(SUM(r) AS BIGINT) AS sr,
                 CAST(SUM(299 * r + 587 * g + 114 * b) AS BIGINT) AS sluma,
                 CAST(SUM((299 * r + 587 * g + 114 * b) * (299 * r + 587 * g + 114 * b))
                      AS BIGINT) AS sluma2,
                 CAST(SUM(CASE WHEN 299 * r + 587 * g + 114 * b >= 128000
                          THEN 1 ELSE 0 END) AS BIGINT) AS bright
               FROM px GROUP BY 1)
      SELECT asset_id, TRUE AS decoded,
             CAST(16 AS DOUBLE) AS w, CAST(12 AS DOUBLE) AS h,
             CAST(sr AS DOUBLE) / 192 AS mean_r,
             CAST(sluma AS DOUBLE) / (1000.0 * 192) AS mean_luma,
             (CAST(sluma2 AS DOUBLE) / 192
              - (CAST(sluma AS DOUBLE) / 192) * (CAST(sluma AS DOUBLE) / 192))
               / 1000000.0 AS var_luma,
             CAST(bright AS DOUBLE) / 192 AS frac_bright
      FROM sums ORDER BY asset_id""",
    // replays the RENDER FORMULA (the lossless-PNG closed form) while the
    // engine decodes real bytes — a green hash certifies the decode path
    "b14_image_dhash" -> """
      WITH pos AS (SELECT i, j, (3 * j) // 2 AS y
                   FROM range(8) t1(i), range(8) t2(j)
                   WHERE NOT (i = 7 AND j = 7)),
      lum AS (SELECT d.doc_id, p.i, p.j,
                (299 * ((d.doc_id * 37 + (2 * p.i) * 16) % 256)
                 + 587 * ((d.doc_id * 11 + p.y * 21) % 256)
                 + 114 * (CASE WHEN ((2 * p.i) * (1 + d.doc_id % 11) + p.y * (1 + d.doc_id % 13) + d.doc_id) % 5 = 0
                          THEN 255 ELSE 0 END)) AS l1,
                (299 * ((d.doc_id * 37 + (2 * p.i + 1) * 16) % 256)
                 + 587 * ((d.doc_id * 11 + p.y * 21) % 256)
                 + 114 * (CASE WHEN ((2 * p.i + 1) * (1 + d.doc_id % 11) + p.y * (1 + d.doc_id % 13) + d.doc_id) % 5 = 0
                          THEN 255 ELSE 0 END)) AS l2
              FROM documents d, pos p),
      h AS (SELECT doc_id AS asset_id,
              CAST(SUM(CASE WHEN l1 > l2
                       THEN (CAST(1 AS BIGINT) << (j * 8 + i)) ELSE 0 END)
                   AS BIGINT) AS dhash
            FROM lum GROUP BY 1),
      c AS (SELECT dhash, COUNT(*) AS n_same_hash FROM h GROUP BY 1)
      SELECT h.asset_id, h.dhash, c.n_same_hash
      FROM h JOIN c USING (dhash) ORDER BY asset_id""",
    // render-formula dhash (shared with b14_image_dhash), then the
    // near-dup clustering replayed at hash granularity: brute-force
    // distinct-hash links at Hamming ≤ 6 (the plan's pigeonhole chunk
    // join is lossless pruning, so brute force IS its oracle), recursive
    // reachability for components, min-asset representative per cluster
    "b14_image_neardup" -> s"""
      WITH RECURSIVE $DhashClusterCtes
      SELECT h.asset_id, h.dhash, cl.cluster_rep,
             CAST(cl.cluster_size AS BIGINT) AS cluster_size
      FROM h JOIN labeled USING (dhash) JOIN cl USING (label)
      ORDER BY asset_id""",
    // the whole curation pipeline: the shared cluster chain, keep-rep +
    // bit_count degeneracy gate, then the pack windows over survivors
    "e07_multimodal_curation" -> s"""
      WITH RECURSIVE $DhashClusterCtes,
      per AS (SELECT h.asset_id, h.dhash, cl.cluster_rep,
                CAST(cl.cluster_size AS BIGINT) AS cluster_size
              FROM h JOIN labeled USING (dhash) JOIN cl USING (label)),
      reps AS (SELECT * FROM per
               WHERE asset_id = cluster_rep
                 AND bit_count(dhash) BETWEEN 8 AND 55),
      costed AS (SELECT asset_id, dhash, cluster_size,
                   CAST(asset_id % 8 AS INT) AS shard,
                   CAST((((asset_id % 8) * 160 + 320 + 15) // 16)
                        * (((asset_id % 8) * 90 + 180 + 15) // 16) AS BIGINT) AS cost
                 FROM reps),
      w AS (SELECT *, CAST(SUM(cost) OVER (PARTITION BY shard ORDER BY asset_id
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cost FROM costed)
      SELECT asset_id, dhash, cluster_size, shard, cost, cum_cost,
             CAST(CEIL(CAST(cum_cost AS DOUBLE) / 8192) AS INT) AS pack_id
      FROM w ORDER BY shard, asset_id""",
    // same asset derivation as b14_multimodal_meta; all-integer modality
    // cost model; ceil over an exact double (cum < 2^53)
    "b14_multimodal_pack" -> """
      WITH a AS (
        SELECT doc_id AS asset_id,
          ['image','audio','video'][CAST(doc_id % 3 AS INT) + 1] AS media_type,
          (doc_id % 8) * 160 + 320 AS width,
          (doc_id % 8) * 90 + 180 AS height,
          CASE WHEN doc_id % 3 = 1 THEN 16000 END AS sample_rate
        FROM documents),
      c AS (SELECT asset_id, media_type, CAST(asset_id % 8 AS INT) AS shard,
              CAST(CASE media_type
                   WHEN 'image' THEN ((width + 15) // 16) * ((height + 15) // 16)
                   WHEN 'audio' THEN sample_rate // 160
                   ELSE 5 * (((width + 31) // 32) * ((height + 31) // 32))
                   END AS BIGINT) AS cost
            FROM a),
      w AS (SELECT *, CAST(SUM(cost) OVER (PARTITION BY shard ORDER BY asset_id
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cost FROM c)
      SELECT asset_id, media_type, shard, cost, cum_cost,
             CAST(CEIL(CAST(cum_cost AS DOUBLE) / 8192) AS INT) AS pack_id
      FROM w ORDER BY shard, asset_id""",
    "b14_multimodal_meta" -> """
      WITH a AS (
        SELECT doc_id AS asset_id,
          CAST(text AS BLOB) AS payload,
          ['image','audio','video'][CAST(doc_id % 3 AS INT) + 1] AS media_type,
          CAST((doc_id % 8) * 160 + 320 AS INT) AS width,
          CAST((doc_id % 8) * 90 + 180 AS INT) AS height,
          CASE WHEN doc_id % 3 = 1 THEN 16000 END AS sample_rate
        FROM documents)
      SELECT asset_id, media_type,
        CAST(octet_length(payload) AS INT) AS payload_bytes,
        width, height, sample_rate,
        CAST(least(640, width) AS INT) AS out_width,
        CAST(floor(CAST(height AS BIGINT) * least(640, width) / width) AS INT) AS out_height
      FROM a ORDER BY asset_id""",
    "b14_multimodal_frames" -> """
      WITH a AS (
        SELECT doc_id AS asset_id, CAST(text AS BLOB) AS payload
        FROM documents WHERE doc_id % 3 = 2)
      SELECT asset_id, CAST(f.frame_idx AS INT) AS frame_idx,
        CAST(octet_length(payload) AS INT) AS payload_bytes
      FROM a, (SELECT unnest([0,30,60,90,120]) AS frame_idx) f
      ORDER BY asset_id, frame_idx""",
  )
}
