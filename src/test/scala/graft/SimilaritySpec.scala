package graft

import org.apache.spark.sql.functions._

import graft.operators.{Multimodal, Similarity}

/** Similarity search: brute-force agreement between the codegen'd fold
  * and the exact-sum relational formulation; LSH recall on clustered
  * vectors; multimodal stub plumbing. */
class SimilaritySpec extends SparkSpec {

  private def emb = sources.ParquetTables.readTable(spark, sf("sf0.001"), "embeddings")

  test("knnBrute (fold) and knnBruteExactSum (relational) agree on neighbor sets") {
    val q = emb.filter(col("vec_id") < 10)
    val fast = Similarity.knnBrute(emb, q, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val exact = Similarity.knnBruteExactSum(emb, "vec_id", "embedding", 10, 5)
      .select("query_id", "neighbor_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(fast == exact)
  }

  test("lshKnn achieves usable recall on clustered vectors") {
    import spark.implicits._
    // 20 clusters x 20 members: cluster centroid +- small deterministic noise
    val dim = 16
    def vec(cluster: Int, member: Int): Array[Float] =
      Array.tabulate(dim) { d =>
        val centroid = math.sin(cluster * 31 + d).toFloat
        val noise    = (((cluster * 997 + member * 131 + d * 17) % 100) / 1000.0f)
        centroid + noise
      }
    val rows = for (c <- 0 until 20; m <- 0 until 20)
      yield ((c * 20 + m).toLong, vec(c, m))
    val df = rows.toDF("vec_id", "embedding")
    val queries = df.filter(col("vec_id") % 20 === 0) // one per cluster
    val brute = Similarity.knnBrute(df, queries, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.lshKnn(df, queries, "vec_id", "embedding", 5, nPlanes = 10)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = approx.intersect(brute).size.toDouble / brute.size
    assert(recall >= 0.8, s"recall $recall")
  }

  test("lshKnn enforces the broadcastable-queries contract, short-circuit count") {
    // 10 queries against maxQueryRows = 5: must fail fast with the
    // pointer at the banded self-join alternative, BEFORE building the
    // probe broadcast
    val queries = emb.filter(col("vec_id") < 10)
    val e = intercept[IllegalArgumentException](
      Similarity.lshKnn(emb, queries, "vec_id", "embedding", k = 5, maxQueryRows = 5))
    assert(e.getMessage.contains("cosineNearDupPairsLsh"))
    // at or under the cap the guard is invisible
    val ok = Similarity.lshKnn(emb, queries, "vec_id", "embedding", k = 5, maxQueryRows = 10)
    assert(ok.count() > 0)
  }

  test("ivfKnn recall on clustered vectors; fewer candidates than brute force") {
    import spark.implicits._
    val dim = 16
    def vec(cluster: Int, member: Int): Array[Float] =
      Array.tabulate(dim) { d =>
        math.sin(cluster * 31 + d).toFloat +
          (((cluster * 997 + member * 131 + d * 17) % 100) / 1000.0f)
      }
    val rows = for (c <- 0 until 20; m <- 0 until 20)
      yield ((c * 20 + m).toLong, vec(c, m))
    val df = rows.toDF("vec_id", "embedding")
    val queries = df.filter(col("vec_id") % 20 === 0)
    val brute = Similarity.knnBrute(df, queries, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfKnn(df, queries, "vec_id", "embedding", 5, nCells = 16, nProbe = 3)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = ivf.intersect(brute).size.toDouble / brute.size
    assert(recall >= 0.9, s"recall $recall")
  }

  test("ivfKnn recall holds with mixed vector magnitudes (cosine-correct cells)") {
    import spark.implicits._
    val dim = 16
    def vec(cluster: Int, member: Int): Array[Float] = {
      // alternate clusters carry 10x magnitude: cells must still form
      // by direction, not norm
      val scale = if (cluster % 2 == 0) 1.0f else 10.0f
      Array.tabulate(dim) { d =>
        (math.sin(cluster * 31 + d).toFloat +
          (((cluster * 997 + member * 131 + d * 17) % 100) / 1000.0f)) * scale
      }
    }
    val rows = for (c <- 0 until 10; m <- 0 until 20)
      yield ((c * 20 + m).toLong, vec(c, m))
    val df = rows.toDF("vec_id", "embedding")
    val queries = df.filter(col("vec_id") % 20 === 0)
    val brute = Similarity.knnBrute(df, queries, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfKnn(df, queries, "vec_id", "embedding", 5, nCells = 10, nProbe = 3)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = ivf.intersect(brute).size.toDouble / brute.size
    assert(recall >= 0.9, s"recall $recall")
  }

  test("multimodal stub decode: deterministic features, one row per doc") {
    val docs = sources.ParquetTables.readTable(spark, sf("sf0.001"), "documents")
    val f = Multimodal.features(docs, "doc_id", "text")
    assert(f.count() == docs.count())
    val r = f.filter(col("doc_id") === 0).head()
    assert(r.getAs[Int]("byte_len") > 0)
    assert(r.getAs[Int]("width") == 1 + r.getAs[Int]("byte_len") % 640)
    assert(r.getAs[String]("checksum").length == 32)
    // deterministic across runs
    val again = Multimodal.features(docs, "doc_id", "text")
      .filter(col("doc_id") === 0).head()
    assert(r == again)
  }

  test("sniffMime: every magic branch, short payloads, null") {
    import spark.implicits._
    def hx(s: String): Array[Byte] =
      s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    val cases: Seq[(Array[Byte], String)] = Seq(
      hx("89504E470D0A1A0A00") -> "image/png",
      hx("FFD8FFDB") -> "image/jpeg",
      hx("4749463839") -> "image/gif",
      hx("424DAA") -> "image/bmp",
      hx("52494646AAAAAAAA57415645") -> "audio/wav",
      hx("52494646AAAAAAAA57454250") -> "image/webp",
      hx("52494646AAAAAAAA41564920") -> "video/x-msvideo",
      hx("0000001C6674797069736F6D") -> "video/mp4",
      hx("4F67675300") -> "application/ogg",
      hx("49443304") -> "audio/mpeg",
      hx("FFFB90") -> "audio/mpeg",
      hx("255044462D312E") -> "application/pdf",
      hx("504B030414") -> "application/zip",
      hx("1F8B08") -> "application/gzip",
      hx("52494646AA") -> "application/octet-stream", // RIFF cut short
      "plain text".getBytes("UTF-8") -> "application/octet-stream",
      Array.empty[Byte] -> "application/octet-stream")
    val df = cases.zipWithIndex.map { case ((b, _), i) => (i.toLong, b) }
      .toDF("i", "b")
    val got = df.select(col("i"), Multimodal.sniffMime(col("b")).as("m"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    cases.zipWithIndex.foreach { case ((_, want), i) =>
      assert(got(i.toLong) === want, s"case $i")
    }
    val n = Seq((1L, Option.empty[Array[Byte]])).toDF("i", "b")
      .select(Multimodal.sniffMime(col("b"))).head()
    assert(n.isNullAt(0))
  }

  test("REAL image codec: PNG round-trip is pixel-exact, resize samples decoded pixels") {
    import spark.implicits._
    def formulaBuf(id: Long, w: Int, h: Int): Array[Byte] =
      Array.tabulate(w * h * 3)(i => Multimodal.syntheticPixel(id, i).toByte)
    val ids = Seq(0L, 1L, 17L, 62L).toDF("doc_id")
    val decoded = Multimodal.decodeImage(Multimodal.syntheticImages(ids, "doc_id"))
      .collect().map(d => d.doc_id -> d).toMap
    decoded.foreach { case (id, d) =>
      val (w, h) = ((8 + id % 9).toInt, (8 + id % 7).toInt)
      assert((d.width, d.height, d.channels, d.n_bytes) === ((w, h, 3, w * h * 3)))
      val buf = formulaBuf(id, w, h)
      var (s1, s2) = (0L, 0L)
      buf.zipWithIndex.foreach { case (b, i) =>
        s1 += (i + 1).toLong * (b & 0xFF); s2 += (i + 1).toLong * (i + 1) * (b & 0xFF)
      }
      assert((d.sum1, d.sum2) === ((s1, s2)), s"doc $id pixel checksum")
      val md = java.security.MessageDigest.getInstance("MD5")
      assert(d.pixel_md5 === md.digest(buf).map("%02x".format(_)).mkString)
    }
    // resize to the SOURCE dims is the identity on decoded pixels
    val id = 17L
    val (w, h) = ((8 + id % 9).toInt, (8 + id % 7).toInt)
    val same = Multimodal.resizeImage(
      Multimodal.syntheticImages(Seq(id).toDF("doc_id"), "doc_id"), w, h)
      .collect().head
    assert(same.pixels.toSeq === formulaBuf(id, w, h).toSeq)
    // downsample: every output pixel is the floor-sampled source pixel
    val small = Multimodal.resizeImage(
      Multimodal.syntheticImages(Seq(id).toDF("doc_id"), "doc_id"), 4, 3)
      .collect().head
    val expect = for {
      y <- 0 until 3; x <- 0 until 4; c <- 0 until 3
    } yield Multimodal.syntheticPixel(id, ((y * h / 3) * w + (x * w / 4)) * 3 + c).toByte
    assert(small.pixels.toSeq === expect)
  }

  test("dHash: hex/long agree; lossless rescale identical; JPEG recompression within a small ball") {
    import spark.implicits._
    val ids = Seq(0L, 1L, 17L, 62L).toDF("doc_id")
    val orig = Multimodal.syntheticImages(ids, "doc_id")
    val got = Multimodal.dHash(orig).collect().map(d => d.doc_id -> d).toMap
    // hex is the row-byte rendering of the packed long (byte y = bits
    // [8y, 8y+8), y ascending)
    got.values.foreach { d =>
      val hex = (0 until 8).map(y => f"${(d.dhash >>> (y * 8)) & 0xFF}%02x").mkString
      assert(d.dhash_hex === hex, s"doc ${d.doc_id} hex/long mismatch")
    }
    // 2x NN upscale + PNG re-encode: floor-division composition makes
    // the copy's hash IDENTICAL (the near-dup gate's backbone)
    val up = Multimodal.dHash(Multimodal.reencodeScaled(orig, 2, 1000L))
      .collect().map(d => (d.doc_id - 1000L) -> d.dhash).toMap
    got.foreach { case (id, d) => assert(up(id) === d.dhash, s"doc $id upscale drift") }
    // JPEG recompression of a SMOOTH image: gradient direction survives
    // lossy 8x8 DCT, so the hash stays within a small hamming ball
    val img = new java.awt.image.BufferedImage(
      64, 64, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    for (y <- 0 until 64; x <- 0 until 64) {
      val v = x * 4
      img.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    def enc(fmt: String): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, fmt, bos); bos.toByteArray
    }
    val hs = Multimodal.dHash(
      Seq((1L, enc("png")), (2L, enc("jpg"))).toDF("doc_id", "payload"))
      .collect().map(d => d.doc_id -> d.dhash).toMap
    val ham = java.lang.Long.bitCount(hs(1L) ^ hs(2L))
    assert(ham <= 6, s"JPEG recompression moved dHash by $ham bits")
    // sanity: a smooth ascending gradient sets (nearly) every bit
    assert(java.lang.Long.bitCount(hs(1L)) >= 56)
  }

  test("REAL audio codec: WAV round-trip is sample-exact; tail window; garbage fails loudly") {
    import spark.implicits._
    val ids = Seq(0L, 1L, 17L, 240L).toDF("doc_id")
    val decoded = Multimodal.decodeAudio(Multimodal.syntheticAudio(ids, "doc_id"))
      .collect().map(d => d.doc_id -> d).toMap
    decoded.foreach { case (id, d) =>
      val n = (256 + id % 241).toInt
      assert((d.n_samples, d.sample_rate, d.channels) === ((n.toLong, 8000, 1)))
      var (s1, s2) = (0L, 0L)
      (0 until n).foreach { i =>
        val s = Multimodal.syntheticSample(id, i)
        s1 += (i + 1).toLong * s; s2 += (i + 1).toLong * (i + 1) * s
      }
      assert((d.sum1, d.sum2) === ((s1, s2)), s"doc $id sample checksum")
    }
    // windows: doc 0 has 256 samples -> one full 160 window + a 96 tail
    val wins = Multimodal.audioEnergyWindows(
      Multimodal.syntheticAudio(Seq(0L).toDF("doc_id"), "doc_id"), 160)
      .collect().sortBy(_.window_idx)
    assert(wins.map(w => (w.window_idx, w.n)).toSeq === Seq((0, 160), (1, 96)))
    val want0 = (0 until 160).map { i =>
      val s = Multimodal.syntheticSample(0L, i).toLong; s * s
    }.sum
    assert(wins(0).energy === want0)
    // garbage payload: loud failure, not silent zeros
    val bad = Seq((1L, "not audio".getBytes("UTF-8"))).toDF("doc_id", "payload")
    val ex = intercept[Exception] { Multimodal.decodeAudio(bad).collect() }
    def msg(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    assert(msg(ex).toLowerCase.contains("audio") || msg(ex).contains("stream"))
  }

  test("audio fingerprint: formula-exact bits, hex/long agree, attenuated re-encode in-ball") {
    import spark.implicits._
    val ids = Seq(0L, 1L, 17L, 111L, 240L).toDF("doc_id")
    val orig = Multimodal.syntheticAudioVaried(ids, "doc_id")
    val got = Multimodal.audioFingerprint(orig).collect().map(f => f.doc_id -> f).toMap
    // independent recompute from the sample formula (zero-padded 65
    // windows of 4, bit w = e(w+1) > e(w))
    def fpOf(id: Long, shift: Int): Long = {
      val n = (256 + id % 241).toInt
      val e = new Array[Long](65)
      (0 until n).foreach { i =>
        val s = Multimodal.syntheticSampleVaried(id, i) / (1 << shift)
        if (i / 4 < 65) e(i / 4) += s.toLong * s
      }
      (0 until 64).foldLeft(0L)((acc, w) => if (e(w + 1) > e(w)) acc | (1L << w) else acc)
    }
    got.foreach { case (id, f) =>
      assert(f.afp === fpOf(id, 0), s"doc $id fingerprint drift vs formula")
      val hex = (0 until 8).map(b => f"${(f.afp >>> (b * 8)) & 0xFF}%02x").mkString
      assert(f.afp_hex === hex, s"doc $id hex/long mismatch")
    }
    // doc 0 has exactly 256 samples -> window 64 zero-pads, bit 63 clear
    assert((got(0L).afp & (1L << 63)) === 0L)
    // half-amplitude re-encode through the REAL codec: delta signs
    // survive attenuation up to near-tie truncation flips
    val att = Multimodal.audioFingerprint(
      Multimodal.reencodeAttenuated(orig, shift = 1, idOffset = 1000L))
      .collect().map(f => (f.doc_id - 1000L) -> f.afp).toMap
    got.foreach { case (id, f) =>
      assert(att(id) === fpOf(id, 1), s"doc $id attenuated fingerprint drift")
      val ham = java.lang.Long.bitCount(f.afp ^ att(id))
      assert(ham <= 3, s"doc $id attenuation moved fingerprint by $ham bits")
    }
    // fingerprints discriminate: distinct docs differ in many bits
    val fps = got.values.map(_.afp).toSeq
    fps.combinations(2).foreach { case Seq(a, b) =>
      assert(java.lang.Long.bitCount(a ^ b) >= 10, "cross-doc fingerprints too close")
    }
  }

  test("video container: pack/unpack round-trip, per-frame hashes match dHash, transcode invariant") {
    import spark.implicits._
    // round-trip: container preserves frame bytes exactly
    val frames = Seq(Array[Byte](1, 2, 3), Array.empty[Byte], Array[Byte](9))
    val rt = Multimodal.unpackFrames(0L, Multimodal.packFrames(frames))
    assert(rt.map(_.toSeq) === frames.map(_.toSeq))
    // truncation fails loudly
    val packed = Multimodal.packFrames(frames)
    val ex = intercept[IllegalArgumentException] {
      Multimodal.unpackFrames(0L, packed.take(packed.length - 1))
    }
    assert(ex.getMessage.contains("truncated"))
    // per-frame hashes equal the single-image dHash of the same formula ids
    val ids = Seq(3L, 7L)
    val vids = Multimodal.syntheticVideos(ids.toDF("doc_id"), "doc_id")
    val vh = Multimodal.videoFrameHashes(vids).collect()
      .map(f => (f.doc_id, f.frame_idx) -> f.dhash).toMap
    ids.foreach { id =>
      (0 to (1 + id % 3).toInt).foreach { f =>
        val single = Multimodal.dHash(
          Multimodal.syntheticImages(Seq(id + f).toDF("doc_id"), "doc_id"))
          .collect().head.dhash
        assert(vh((id, f)) === single, s"video $id frame $f hash drift vs dHash")
      }
    }
    // 2x transcode: every frame hash identical, frame count preserved
    val th = Multimodal.videoFrameHashes(
      Multimodal.reencodeScaledVideo(vids, factor = 2, idOffset = 500L))
      .collect().map(f => (f.doc_id - 500L, f.frame_idx) -> f.dhash).toMap
    assert(th === vh)
  }

  test("REAL image codec: JPEG decodes with true dimensions; garbage payload fails loudly") {
    import spark.implicits._
    // lossy JPEG: dims are exact even though pixels aren't
    val img = new java.awt.image.BufferedImage(
      11, 5, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", bos)
    val jp = Seq((9L, bos.toByteArray)).toDF("doc_id", "payload")
    val d = Multimodal.decodeImage(jp).collect().head
    assert((d.width, d.height) === ((11, 5)))
    val bad = Seq((1L, "not an image".getBytes("UTF-8"))).toDF("doc_id", "payload")
    val ex = intercept[Exception] { Multimodal.decodeImage(bad).collect() }
    def msg(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    assert(msg(ex).contains("not a decodable image"))
  }

  test("LSH near-dup pairs: high recall vs the exact all-pairs variant, no false positives") {
    // near-dup regime: tight clusters (cos >= ~0.9 within), threshold 0.85
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(5)
    val centers = Array.fill(20)(Array.fill(32)(rnd.nextGaussian()))
    val rows = (0L until 200L).map { i =>
      val c = centers((i % 20).toInt)
      (i, c.map(x => (x + 0.12 * rnd.nextGaussian()).toFloat).toSeq)
    }
    val df = rows.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>"))
    val exact = Similarity.cosineNearDupPairs(df, "vec_id", "embedding", minCosine = 0.85)
      .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.cosineNearDupPairsLsh(df, "vec_id", "embedding", minCosine = 0.85)
      .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // no false positives up to last-ulp disagreement between the two
    // cosine formulations (float fold vs exact decimal sums): compare
    // against the exact set at a hair below the threshold
    val exactLoose = Similarity.cosineNearDupPairs(df, "vec_id", "embedding", minCosine = 0.8499)
      .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(approx.subsetOf(exactLoose), s"false positives: ${approx.diff(exactLoose)}")
    assert(exact.size >= 50, s"fixture too sparse: ${exact.size} exact pairs")
    val recall = approx.size.toDouble / exact.size
    assert(recall >= 0.9, s"recall $recall (${approx.size}/${exact.size})")
  }

  test("semDedup prunes the higher id of within-cluster near-dups, keeps cross-direction") {
    import spark.implicits._
    // centroids = lowest 2 ids: id0 along x, id1 along y
    val vecs = Seq(
      (0L, Seq(10f, 0f)),
      (1L, Seq(0f, 10f)),
      (2L, Seq(10.1f, 0.1f)),  // cluster 0, cos vs id0 ~ 1 -> pruned
      (3L, Seq(0.1f, 9.9f)),   // cluster 1, cos vs id1 ~ 1 -> pruned
      (4L, Seq(7f, 7f))        // lands in a cluster but cos ~ 0.71 < 0.9 -> kept
    ).toDF("vec_id", "embedding")
    val out = Similarity.semDedup(vecs, "vec_id", "embedding", k = 2, minCosine = 0.9)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out.keySet === Set(0L, 1L, 4L), s"got $out")
    assert(out(0L) != out(1L), "the two directions must land in different clusters")
    // degenerate-cluster guard: maxCluster below any cluster size means
    // no pairing anywhere — everything survives unpruned
    val uncapped = Similarity.semDedup(
      vecs, "vec_id", "embedding", k = 2, minCosine = 0.9, maxCluster = 1)
    assert(uncapped.count() === 5)
  }

  test("semDedup oversized-cluster skip is surfaced: audit flag, fail-loud, fast parity") {
    import spark.implicits._
    // cluster 0 (around id0 = x-axis): 4 members incl. a near-dup pair;
    // cluster 1 (around id1 = y-axis): 2 members, also a near-dup pair
    val vecs = Seq(
      (0L, Seq(10f, 0f)), (1L, Seq(0f, 10f)),
      (2L, Seq(10.1f, 0.1f)), (3L, Seq(0.1f, 9.9f)),
      (4L, Seq(9.8f, 0.2f)), (5L, Seq(10.2f, 0f))
    ).toDF("vec_id", "embedding")
    // cap = 3: the x cluster (4 members) is oversized -> ALL survive
    // flagged 0; the y cluster (2 members) prunes id3, flagged 1
    val audit = Similarity.semDedupAudit(
      vecs, "vec_id", "embedding", k = 2, minCosine = 0.9, maxCluster = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(audit === Map(0L -> 0, 2L -> 0, 4L -> 0, 5L -> 0, 1L -> 1), s"got $audit")
    val fastAudit = Similarity.semDedupFastAudit(
      vecs, "vec_id", "embedding", k = 2, minCosine = 0.9, maxCluster = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(fastAudit === audit)
    // opt-in fail-loud: same corpus raises in-plan instead of under-pruning
    val ex = intercept[Exception] {
      Similarity.semDedup(vecs, "vec_id", "embedding",
        k = 2, minCosine = 0.9, maxCluster = 3, failOnOversized = true).collect()
    }
    def msg(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    assert(msg(ex).contains("maxCluster=3"), s"unexpected failure: ${msg(ex)}")
    val ex2 = intercept[Exception] {
      Similarity.semDedupFast(vecs, "vec_id", "embedding",
        k = 2, minCosine = 0.9, maxCluster = 3, failOnOversized = true).collect()
    }
    assert(msg(ex2).contains("maxCluster=3"), s"unexpected failure: ${msg(ex2)}")
    // cap above every cluster: flags all 1, survivors = the plain prune
    val allEligible = Similarity.semDedupAudit(
      vecs, "vec_id", "embedding", k = 2, minCosine = 0.9, maxCluster = 100)
    assert(allEligible.agg(min("pruned_eligible")).head.getInt(0) === 1)
  }

  test("null embeddings flow through brute/LSH/IVF knn without NPEs or rank pollution") {
    import spark.implicits._
    val dim = 8
    def vec(seed: Int): Array[Float] = Array.tabulate(dim)(d => math.sin(seed * 31 + d).toFloat)
    val rows: Seq[(Long, Array[Float])] =
      (0L until 30L).map(i => i -> vec(i.toInt)) :+ (30L -> null.asInstanceOf[Array[Float]])
    val df = rows.toDF("vec_id", "embedding")
    val queries = df.filter(col("vec_id") < 3 || col("vec_id") === 30L)
    for (knn <- Seq(
        Similarity.knnBrute(df, queries, "vec_id", "embedding", 5),
        Similarity.lshKnn(df, queries, "vec_id", "embedding", 5, nPlanes = 6),
        Similarity.ivfKnn(df, queries, "vec_id", "embedding", 5, nCells = 4))) {
      val out = knn.collect()
      // the null corpus row is never a neighbor, the null query returns
      // nothing, and no null cosine reaches the ranking
      assert(!out.exists(_.getLong(1) == 30L), "null corpus row surfaced as neighbor")
      assert(!out.exists(_.getLong(0) == 30L), "null query returned results")
      assert(out.forall(!_.isNullAt(3)), "null cosine leaked into ranks")
      assert(out.nonEmpty)
    }
  }

  test("quantizedKnn matches brute top-k on separated vectors; nulls and zeros harden") {
    import spark.implicits._
    val dim = 8
    def vec(seed: Int): Array[Float] = Array.tabulate(dim)(d => math.sin(seed * 31 + d).toFloat)
    val rows: Seq[(Long, Array[Float])] =
      (0L until 30L).map(i => i -> vec(i.toInt)) ++
        Seq(30L -> null.asInstanceOf[Array[Float]],
          31L -> Array.fill(dim)(0.0f))
    val df = rows.toDF("vec_id", "embedding")
    val queries = df.filter(col("vec_id") < 3 || col("vec_id") >= 30L)
    val qk = Similarity.quantizedKnn(df, queries, "vec_id", "embedding", k = 3, shortlist = 12)
    val out = qk.collect()
    assert(!out.exists(r => r.getLong(1) == 30L || r.getLong(1) == 31L),
      "null/zero corpus rows surfaced as neighbors")
    assert(!out.exists(r => r.getLong(0) == 30L || r.getLong(0) == 31L),
      "null/zero queries returned results")
    assert(out.forall(!_.isNullAt(3)), "null cosine leaked into ranks")
    // rescoring is exact: on these well-separated vectors the top-k
    // equals brute force, cosine to the double
    val brute = Similarity.knnBrute(
        df.filter(col("vec_id") < 30L), queries.filter(col("vec_id") < 3), "vec_id", "embedding", 3)
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Int)].collect().toSet
    val quant = out.map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(quant == brute, s"diff: ${(quant diff brute) ++ (brute diff quant)}")
  }

  test("pqKnn: exact rescoring matches brute top-k with a generous shortlist; nulls/zeros harden; ADC recall is usable tight") {
    import spark.implicits._
    val dim = 16
    def vec(seed: Int): Array[Float] = Array.tabulate(dim)(d => math.sin(seed * 31 + d).toFloat)
    val rows: Seq[(Long, Array[Float])] =
      (0L until 40L).map(i => i -> vec(i.toInt)) ++
        Seq(40L -> null.asInstanceOf[Array[Float]],
          41L -> Array.fill(dim)(0.0f))
    val df = rows.toDF("vec_id", "embedding")
    val queries = df.filter(col("vec_id") < 3 || col("vec_id") >= 40L)
    // shortlist = whole corpus: rescoring must reproduce brute exactly
    val pqAll = Similarity.pqKnn(df, queries, "vec_id", "embedding",
        k = 3, m = 4, kCodes = 8, shortlist = 40).collect()
    assert(!pqAll.exists(r => r.getLong(1) >= 40L), "null/zero corpus rows surfaced")
    assert(!pqAll.exists(r => r.getLong(0) >= 40L), "null/zero queries returned results")
    assert(pqAll.forall(!_.isNullAt(3)), "null cosine leaked into ranks")
    val brute = Similarity.knnBrute(
        df.filter(col("vec_id") < 40L), queries.filter(col("vec_id") < 3),
        "vec_id", "embedding", 3)
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(pqAll.map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet === brute)
    // tight shortlist: the 8-byte-code ADC ranking still recovers most
    // of the true top-3 on smooth vectors (recall floor pinned — a
    // codebook/table/lookup bug craters it)
    val pqTight = Similarity.pqKnn(df, queries, "vec_id", "embedding",
        k = 3, m = 4, kCodes = 8, shortlist = 6).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brutePairs = brute.map(t => (t._1, t._2))
    val recall = brutePairs.count(pqTight.contains).toDouble / brutePairs.size
    assert(recall >= 0.65, s"ADC recall $recall under the pinned floor")
    // every returned cosine is EXACT (the _verified gate contract)
    val exact = Similarity.allPairsCosineExact(
        df.filter(col("vec_id") < 40L), "vec_id", "embedding", numQueries = 3)
      .select("query_id", "neighbor_id", "cosine")
      .as[(Long, Long, Double)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    pqAll.foreach { r =>
      val want = exact((r.getLong(0), r.getLong(1)))
      assert(math.abs(BigDecimal(r.getDouble(3)).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble - want) < 1e-9,
        s"cosine drift for ${(r.getLong(0), r.getLong(1))}")
    }
  }

  test("ivfPqKnn: exhaustive probes + full shortlist reproduce brute top-k; probed ADC recall holds; nulls/zeros harden") {
    import spark.implicits._
    val dim = 16
    def vec(seed: Int): Array[Float] = Array.tabulate(dim)(d => math.sin(seed * 31 + d).toFloat)
    val rows: Seq[(Long, Array[Float])] =
      (0L until 40L).map(i => i -> vec(i.toInt)) ++
        Seq(40L -> null.asInstanceOf[Array[Float]],
          41L -> Array.fill(dim)(0.0f))
    val df = rows.toDF("vec_id", "embedding")
    val queries = df.filter(col("vec_id") < 3 || col("vec_id") >= 40L)
    // probe EVERY cell with a whole-corpus shortlist: the composed
    // index degenerates to exact rescoring of everything — must equal
    // brute top-k bit for bit
    val all = Similarity.ivfPqKnn(df, queries, "vec_id", "embedding",
        k = 3, nCells = 4, m = 4, kCodes = 8, nProbe = 4, shortlist = 40).collect()
    assert(!all.exists(r => r.getLong(1) >= 40L), "null/zero corpus rows surfaced")
    assert(!all.exists(r => r.getLong(0) >= 40L), "null/zero queries returned results")
    val brute = Similarity.knnBrute(
        df.filter(col("vec_id") < 40L), queries.filter(col("vec_id") < 3),
        "vec_id", "embedding", 3)
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(all.map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet === brute)
    // production regime: nProbe < nCells and a tight shortlist — the
    // residual-ADC ranking must still recover most of the true top-3
    // (a residual/table/coarse-dot bug craters this floor)
    val tight = Similarity.ivfPqKnn(df, queries, "vec_id", "embedding",
        k = 3, nCells = 4, m = 4, kCodes = 8, nProbe = 2, shortlist = 6).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brutePairs = brute.map(t => (t._1, t._2))
    val recall = brutePairs.count(tight.contains).toDouble / brutePairs.size
    assert(recall >= 0.65, s"IVF-PQ recall $recall under the pinned floor")
  }

  test("ivfPqKnn: dim-mismatched query fails loud naming the offending query id (no silent truncated dot)") {
    import spark.implicits._
    val dim = 16
    def vec(seed: Int): Array[Float] = Array.tabulate(dim)(d => math.sin(seed * 31 + d).toFloat)
    val df = (0L until 40L).map(i => i -> vec(i.toInt)).toDF("vec_id", "embedding")
    // query 99 carries HALF the trained dimensionality: both the ADC
    // table UDF and the coarse-dot UDF sit on its row — whichever
    // evaluates first must raise and must name the query, never
    // min-truncate the arithmetic
    val badQ = Seq(99L -> Array.tabulate(dim / 2)(d => math.sin(99 * 31 + d).toFloat))
      .toDF("vec_id", "embedding")
    val ex = intercept[Exception] {
      Similarity.ivfPqKnn(df, badQ, "vec_id", "embedding",
        k = 3, nCells = 4, m = 4, kCodes = 8, nProbe = 2, shortlist = 6).collect()
    }
    val chain = Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(chain.contains("99") && chain.contains("dim"),
      s"expected a dim-mismatch failure naming query 99, got: $chain")
  }

  test("ivfSqKnn: exhaustive probes + full shortlist reproduce brute top-k; probed int8 recall holds; nulls/zeros harden") {
    import spark.implicits._
    val dim = 16
    def vec(seed: Int): Array[Float] = Array.tabulate(dim)(d => math.sin(seed * 31 + d).toFloat)
    val rows: Seq[(Long, Array[Float])] =
      (0L until 40L).map(i => i -> vec(i.toInt)) ++
        Seq(40L -> null.asInstanceOf[Array[Float]],
          41L -> Array.fill(dim)(0.0f))
    val df = rows.toDF("vec_id", "embedding")
    val queries = df.filter(col("vec_id") < 3 || col("vec_id") >= 40L)
    val all = Similarity.ivfSqKnn(df, queries, "vec_id", "embedding",
        k = 3, nCells = 4, nProbe = 4, shortlist = 40).collect()
    assert(!all.exists(r => r.getLong(1) >= 40L), "null/zero corpus rows surfaced")
    assert(!all.exists(r => r.getLong(0) >= 40L), "null/zero queries returned results")
    val brute = Similarity.knnBrute(
        df.filter(col("vec_id") < 40L), queries.filter(col("vec_id") < 3),
        "vec_id", "embedding", 3)
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(all.map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet === brute)
    // production regime: int8 code-space ranking within 2 probed cells
    val tight = Similarity.ivfSqKnn(df, queries, "vec_id", "embedding",
        k = 3, nCells = 4, nProbe = 2, shortlist = 6).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brutePairs = brute.map(t => (t._1, t._2))
    val recall = brutePairs.count(tight.contains).toDouble / brutePairs.size
    assert(recall >= 0.65, s"IVF-SQ8 recall $recall under the pinned floor")
  }

  test("quantizedKnn stage-1 shortlist is a pre-shuffle bounded heap (WindowGroupLimit)") {
    import spark.implicits._
    val df = (0L until 20L).map(i =>
      i -> Array.tabulate(8)(d => math.sin(i * 31 + d).toFloat)).toDF("vec_id", "embedding")
    val plan = Similarity.quantizedKnn(df, df.filter(col("vec_id") < 2), "vec_id", "embedding", 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"the |C|x|Q| stage-1 score stream must be heap-limited before its exchange:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("lshBucket yields NULL for null embeddings (row drops out of the join)") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, Some(Seq(1.0f, 0.0f))), (2L, None))
      .toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>"))
    val out = df.select(col("vec_id"), Similarity.lshBucket(col("embedding"), 8).as("b"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(out(1L).isDefined)
    assert(out(2L).isEmpty, "null embedding must produce a null bucket, not an NPE")
  }

  test("multimodal resize stub: exact buffer size, deterministic, content-addressed") {
    val s = spark
    import s.implicits._
    val payloads = Seq(
      (1L, Array.tabulate[Byte](1000)(_.toByte)),
      (2L, Array.tabulate[Byte](10)(i => (i * 7).toByte)),
      (3L, Array.empty[Byte])
    ).toDF("doc_id", "payload")
    val out = Multimodal.resizeStub(payloads, outW = 8, outH = 4).collect()
    assert(out.length == 3)
    assert(out.forall(r => r.pixels.length == 8 * 4 * 3 && r.out_bytes == 96))
    // deterministic across runs, distinct content -> distinct pixels
    val again = Multimodal.resizeStub(payloads, outW = 8, outH = 4).collect()
    def px(rs: Array[Multimodal.Resized]) = rs.sortBy(_.doc_id).map(_.pixels.toSeq).toSeq
    assert(px(out) == px(again))
    assert(px(out)(0) != px(out)(1))
  }

  test("multimodal frame sampling: full coverage, bounded windows, edge sizes") {
    val s = spark
    import s.implicits._
    // payload sizes: empty, under one frame, exact multiple, one over
    val payloads = Seq(
      (0L, Array.empty[Byte]),
      (1L, Array.fill[Byte](100)(1)),
      (2L, Array.fill[Byte](512)(2)),
      (3L, Array.fill[Byte](513)(3))
    ).toDF("doc_id", "payload")
    val frames = Multimodal.frameSample(payloads, frameBytes = 256).collect()
    assert(!frames.exists(_.doc_id == 0L)) // empty payload -> no frames
    assert(frames.filter(_.doc_id == 1L).map(f => (f.frame_idx, f.frame_offset, f.frame_bytes)).toSeq ==
      Seq((0, 0, 100)))
    assert(frames.filter(_.doc_id == 2L).map(_.frame_bytes).toSeq == Seq(256, 256))
    assert(frames.filter(_.doc_id == 3L).map(_.frame_bytes).sorted.toSeq == Seq(1, 256, 256))
    // windows tile the payload exactly
    val cover = frames.groupBy(_.doc_id).view.mapValues(_.map(_.frame_bytes).sum).toMap
    assert(cover == Map(1L -> 100, 2L -> 512, 3L -> 513))
  }

  test("native CosineSimilarity expression matches the fold bit-exactly and codegens") {
    val pairs = emb.as("a").join(emb.as("b"), col("a.vec_id") + 1 === col("b.vec_id"))
      .select(
        graft.functions.CosineSimilarity(col("a.embedding"), col("b.embedding")).as("native"),
        operators.Similarity.cosineFold(col("a.embedding"), col("b.embedding")).as("fold"))
    assert(pairs.filter(col("native") =!= col("fold")).count() == 0)
    // the native expression participates in whole-stage codegen — check
    // it alone: the fold's higher-order functions are CodegenFallback
    // and would disable codegen for any projection containing them
    val nativeOnly = emb.select(
      graft.functions.CosineSimilarity(col("embedding"), col("embedding")).as("c"))
    nativeOnly.collect()
    // "*(n)" prefixes mark WholeStageCodegen stages in the compact plan
    val plan = nativeOnly.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [cosine_similarity"), plan)
    val foldOnly = emb.select(
      operators.Similarity.cosineFold(col("embedding"), col("embedding")).as("c"))
    foldOnly.collect()
    assert(!foldOnly.queryExecution.executedPlan.toString.contains("*(1) Project"),
      "fold unexpectedly codegens now - native expression may be unnecessary")
  }

  test("native IntDotProduct matches the higher-order fold (incl. null algebra) and codegens") {
    def fold(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => x.cast("long") * y.cast("long")),
        lit(0L), (acc, v) => acc + v)
    val df = spark.range(1).selectExpr(
      "array(1,2,3) as a1", "array(4,5,6) as b1",
      "array(1,2) as a2", "array(1,2,3) as b2",          // length mismatch
      "array(1, cast(null as int)) as a3", "array(5,6) as b3", // null element
      "array(127,-127) as a4", "array(127,127) as b4")
    val row = df.select(
      graft.functions.IntDotProduct(col("a1"), col("b1")).as("n1"), fold(col("a1"), col("b1")).as("f1"),
      graft.functions.IntDotProduct(col("a2"), col("b2")).as("n2"), fold(col("a2"), col("b2")).as("f2"),
      graft.functions.IntDotProduct(col("a3"), col("b3")).as("n3"), fold(col("a3"), col("b3")).as("f3"),
      graft.functions.IntDotProduct(col("a4"), col("b4")).as("n4"), fold(col("a4"), col("b4")).as("f4")
    ).head
    assert(row.getLong(0) == 32L && row.getLong(1) == 32L)
    assert(row.isNullAt(2) && row.isNullAt(3)) // mismatch poisons the fold — and the native
    assert(row.isNullAt(4) && row.isNullAt(5)) // null element likewise
    assert(row.getLong(6) == 0L && row.getLong(7) == 0L)
    // whole-stage codegen marker on the real stage-1 shape: int codes
    val codes = operators.Quantize.int8(emb, "vec_id", "embedding")
    val nativeOnly = codes.select(
      graft.functions.IntDotProduct(col("q"), col("q")).as("d"))
    nativeOnly.collect()
    val plan = nativeOnly.queryExecution.executedPlan.toString
    assert(plan.contains("int_dot"), plan)
    assert(plan.linesIterator.exists(l => l.contains("*(") && l.contains("int_dot")),
      s"int_dot must sit inside a WholeStageCodegen stage:\n$plan")
  }

  test("cosine fold handles zero vectors without NaN poisoning ranks") {
    import spark.implicits._
    val df = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f)), (2L, Array(0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.knnBrute(df, df.filter(col("vec_id") === 0), "vec_id", "embedding", 2)
      .collect()
    assert(out.map(_.getAs[Long]("neighbor_id")).toSet == Set(1L, 2L))
    assert(out.filter(_.getAs[Int]("rank") == 1).head.getAs[Long]("neighbor_id") == 1L)
  }

  test("semDedupFast (production codegen path) matches the exact-decimal semDedup") {
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id").collect().map(_.getLong(0)).toSet
    val exact = ids(Similarity.semDedup(emb, "vec_id", "embedding", k = 8, minCosine = 0.45))
    val fast  = ids(Similarity.semDedupFast(emb, "vec_id", "embedding", k = 8, minCosine = 0.45))
    assert(fast == exact)
    // and its plan is the production shape: no posexplode of dimensions
    val plan = Similarity.semDedupFast(emb, "vec_id", "embedding", 8, 0.45)
      .queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("posexplode"), s"fast path must not explode dims:\n$plan")
  }

  test("pqKnn: ragged embedding dimensions fail loud naming the offender, never partial-subspace scores") {
    import spark.implicits._
    val dim = 16
    def vec(seed: Int): Array[Float] = Array.tabulate(dim)(d => math.sin(seed * 31 + d).toFloat)
    // ragged vector inside the TRAINING sample: train-time failure
    val ragged = ((0L until 8L).map(i => i -> vec(i.toInt)) :+
      (8L -> Array.fill(6)(0.5f))).toDF("vec_id", "embedding")
    val trainErr = intercept[IllegalArgumentException] {
      Similarity.pqKnn(ragged, ragged.filter(col("vec_id") < 2), "vec_id", "embedding",
        k = 2, m = 4, kCodes = 4, shortlist = 4)
    }
    assert(trainErr.getMessage.contains("mixed embedding dimensions"))
    // uniform corpus, ragged QUERY: hot-path failure names the row id
    val corpus = (0L until 8L).map(i => i -> vec(i.toInt)).toDF("vec_id", "embedding")
    val badQ = Seq(99L -> Array.fill(6)(0.5f)).toDF("vec_id", "embedding")
    val qErr = intercept[Exception] {
      Similarity.pqKnn(corpus, badQ, "vec_id", "embedding",
        k = 2, m = 4, kCodes = 4, shortlist = 4).collect()
    }
    val chain = Iterator.iterate[Throwable](qErr)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" | ")
    assert(chain.contains("query vector 99") && chain.contains("trained on 16"),
      s"expected the offending id and trained dim in: $chain")
  }

  test("AnnIndex: stored IVF and PQ indexes answer identically to a same-seed retrain, through a parquet round trip") {
    import spark.implicits._
    import graft.operators.AnnIndex
    val dim = 16
    def vec(seed: Int): Array[Float] = Array.tabulate(dim)(d => math.sin(seed * 31 + d).toFloat)
    val rows: Seq[(Long, Array[Float])] =
      (0L until 40L).map(i => i -> vec(i.toInt)) :+
        (40L -> null.asInstanceOf[Array[Float]])
    val df = rows.toDF("vec_id", "embedding")
    val queries = df.filter(col("vec_id") < 4)
    def collected(d: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Int, Double)] =
      d.select("query_id", "neighbor_id", "rank", "cosine")
        .as[(Long, Long, Int, Double)].collect().sorted.toSeq
    val dir = java.nio.file.Files.createTempDirectory("graft-annindex").toString

    // IVF: train -> store -> encode -> store -> query == retrain, bitwise
    val retrainIvf = collected(
      Similarity.ivfKnn(df, queries, "vec_id", "embedding", k = 3, nCells = 8, nProbe = 3))
    AnnIndex.trainIvf(df, "vec_id", "embedding", nCells = 8)
      .write.parquet(s"$dir/ivf_centroids")
    val cents = spark.read.parquet(s"$dir/ivf_centroids")
    val ivf = AnnIndex.load(centroids = Some(cents))
    AnnIndex.encode(ivf, df, "vec_id", "embedding")
      .write.partitionBy("cell").parquet(s"$dir/ivf_postings")
    val storedIvf = collected(AnnIndex.search(ivf, None, queries,
      spark.read.parquet(s"$dir/ivf_postings"), "vec_id", "embedding", k = 3, nProbe = 3))
    assert(storedIvf === retrainIvf, "stored-IVF path diverged from the retrain path")

    // PQ: same contract
    val retrainPq = collected(
      Similarity.pqKnn(df, queries, "vec_id", "embedding", k = 3, m = 4, kCodes = 8, shortlist = 10))
    AnnIndex.trainPq(df, "vec_id", "embedding", m = 4, kCodes = 8)
      .write.parquet(s"$dir/pq_codebooks")
    val books = spark.read.parquet(s"$dir/pq_codebooks")
    val pq = AnnIndex.load(codebooks = Some(books))
    AnnIndex.encode(pq, df, "vec_id", "embedding")
      .write.parquet(s"$dir/pq_codes")
    val storedPq = collected(AnnIndex.search(pq, Some(df), queries,
      spark.read.parquet(s"$dir/pq_codes"), "vec_id", "embedding", k = 3, shortlist = 10))
    assert(storedPq === retrainPq, "stored-PQ path diverged from the retrain path")

    // IVF-PQ: the composed index (residual codebooks inside IVF
    // cells) — three persisted tables, same bitwise contract
    val retrainIvfPq = collected(
      Similarity.ivfPqKnn(df, queries, "vec_id", "embedding", k = 3,
        nCells = 8, m = 4, kCodes = 8, nProbe = 3, shortlist = 10))
    AnnIndex.trainIvfPq(df, "vec_id", "embedding", cents, m = 4, kCodes = 8)
      .write.parquet(s"$dir/ivfpq_codebooks")
    val rbooks = spark.read.parquet(s"$dir/ivfpq_codebooks")
    val ivfPq = AnnIndex.load(centroids = Some(cents), codebooks = Some(rbooks))
    AnnIndex.encode(ivfPq, df, "vec_id", "embedding")
      .write.partitionBy("cell").parquet(s"$dir/ivfpq_codes")
    val storedIvfPq = collected(AnnIndex.search(ivfPq, Some(df), queries,
      spark.read.parquet(s"$dir/ivfpq_codes"), "vec_id", "embedding", k = 3,
      nProbe = 3, shortlist = 10))
    assert(storedIvfPq === retrainIvfPq,
      "stored-IVF-PQ path diverged from the retrain path")

    // IVF-SQ8: scalar-quantized postings, same bitwise contract
    val retrainIvfSq = collected(
      Similarity.ivfSqKnn(df, queries, "vec_id", "embedding", k = 3,
        nCells = 8, nProbe = 3, shortlist = 10))
    val ivfSq = AnnIndex.load(centroids = Some(cents), sq8 = true)
    AnnIndex.encode(ivfSq, df, "vec_id", "embedding")
      .write.partitionBy("cell").parquet(s"$dir/ivfsq_codes")
    val storedIvfSq = collected(AnnIndex.search(ivfSq, Some(df), queries,
      spark.read.parquet(s"$dir/ivfsq_codes"), "vec_id", "embedding", k = 3,
      nProbe = 3, shortlist = 10))
    assert(storedIvfSq === retrainIvfSq,
      "stored-IVF-SQ8 path diverged from the retrain path")

    // OPQ: rotation + codebooks as two model tables, same bitwise
    // contract
    val retrainOpq = collected(
      Similarity.opqKnn(df, queries, "vec_id", "embedding", k = 3,
        m = 4, kCodes = 8, shortlist = 10))
    val (rotT, obooksT) = AnnIndex.trainOpq(df, "vec_id", "embedding", m = 4, kCodes = 8)
    rotT.write.parquet(s"$dir/opq_rotation")
    obooksT.write.parquet(s"$dir/opq_codebooks")
    val orot = spark.read.parquet(s"$dir/opq_rotation")
    val obooks = spark.read.parquet(s"$dir/opq_codebooks")
    val opq = AnnIndex.load(rotation = Some(orot), codebooks = Some(obooks))
    AnnIndex.encode(opq, df, "vec_id", "embedding")
      .write.parquet(s"$dir/opq_codes")
    val storedOpq = collected(AnnIndex.search(opq, Some(df), queries,
      spark.read.parquet(s"$dir/opq_codes"), "vec_id", "embedding", k = 3, shortlist = 10))
    assert(storedOpq === retrainOpq, "stored-OPQ path diverged from the retrain path")

    // model-table validation fails loud: a filtered centroids table
    // (gap), a duplicated codebook row, and a corpus passed as a model
    val gap = intercept[IllegalArgumentException] {
      AnnIndex.load(centroids = Some(cents.filter(col("cell") =!= 3)))
    }
    assert(gap.getMessage.contains("no cell"))
    val dup = intercept[IllegalArgumentException] {
      AnnIndex.load(codebooks = Some(books.union(books.limit(1))))
    }
    assert(dup.getMessage.contains("codebook rows"))
    // a doctored (non-orthogonal) rotation fails loud — ADC scores
    // would silently approximate a DIFFERENT query otherwise
    val doctored = orot.withColumn("coeffs",
      when(col("row") === 0,
        org.apache.spark.sql.functions.transform(col("coeffs"), _ * 2.0))
        .otherwise(col("coeffs")))
    val badRot = intercept[IllegalArgumentException] {
      AnnIndex.load(rotation = Some(doctored), codebooks = Some(obooks))
    }
    assert(badRot.getMessage.contains("not orthogonal"))
  }

  test("ivfOpq stored index: exhaustive probes + full shortlist reproduce brute top-k; probed recall holds; rescore is original-space exact") {
    import spark.implicits._
    import graft.operators.AnnIndex
    val dim = 16
    def vec(seed: Int): Array[Float] = Array.tabulate(dim)(d => math.sin(seed * 31 + d).toFloat)
    val rows: Seq[(Long, Array[Float])] =
      (0L until 40L).map(i => i -> vec(i.toInt)) ++
        Seq(40L -> null.asInstanceOf[Array[Float]],
          41L -> Array.fill(dim)(0.0f))
    val df = rows.toDF("vec_id", "embedding")
    val queries = df.filter(col("vec_id") < 3 || col("vec_id") >= 40L)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfopq").toString
    val (rotT, centsT, booksT) = AnnIndex.trainIvfOpq(
      df, "vec_id", "embedding", nCells = 4, m = 4, kCodes = 8)
    rotT.write.parquet(s"$dir/rotation")
    centsT.write.parquet(s"$dir/centroids")
    booksT.write.parquet(s"$dir/codebooks")
    val model = AnnIndex.load(rotation = Some(spark.read.parquet(s"$dir/rotation")),
      centroids = Some(spark.read.parquet(s"$dir/centroids")),
      codebooks = Some(spark.read.parquet(s"$dir/codebooks")))
    AnnIndex.encode(model, df, "vec_id", "embedding")
      .write.partitionBy("cell").parquet(s"$dir/codes")
    val codes = spark.read.parquet(s"$dir/codes")
    // exhaustive regime degenerates to exact rescoring of everything —
    // must equal brute top-k bit for bit, IN THE ORIGINAL SPACE (the
    // rotated cosines would differ in the last ulps; bitwise equality
    // here proves the rescore never sees rotated vectors)
    val all = AnnIndex.search(model, Some(df), queries, codes, "vec_id", "embedding",
      k = 3, nProbe = 4, shortlist = 40).collect()
    assert(!all.exists(r => r.getLong(1) >= 40L), "null/zero corpus rows surfaced")
    assert(!all.exists(r => r.getLong(0) >= 40L), "null/zero queries returned results")
    val brute = Similarity.knnBrute(
        df.filter(col("vec_id") < 40L), queries.filter(col("vec_id") < 3),
        "vec_id", "embedding", 3)
      .select("query_id", "neighbor_id", "rank", "cosine")
      .as[(Long, Long, Int, Double)].collect().toSet
    assert(all.map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
      === brute)
    // production regime: nProbe < nCells and a tight shortlist
    val tight = AnnIndex.search(model, Some(df), queries, codes, "vec_id", "embedding",
        k = 3, nProbe = 2, shortlist = 6).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brutePairs = brute.map(t => (t._1, t._2))
    val recall = brutePairs.count(tight.contains).toDouble / brutePairs.size
    assert(recall >= 0.65, s"OPQ+IVF-PQ recall $recall under the pinned floor")
    // and the probed query partition-prunes the codes scan on cell
    val plan = AnnIndex.search(model, Some(df), queries, codes, "vec_id", "embedding",
      k = 3, nProbe = 2, shortlist = 6)
      .queryExecution.executedPlan.toString
    val scanLine = plan.linesIterator.find(l =>
      l.contains("FileScan") && l.contains("codes")).getOrElse(
      fail(s"no codes FileScan in plan:\n$plan"))
    assert(scanLine.contains("PartitionFilters: [") &&
      scanLine.replaceAll(".*PartitionFilters: \\[", "").takeWhile(_ != ']')
        .contains("cell"),
      s"the composed index's codes scan must prune on the probed cells:\n$scanLine")
  }

  test("opqKnn: exhaustive shortlist reproduces brute top-k; the learned rotation beats plain PQ recall on a block-misaligned corpus") {
    import spark.implicits._
    val dim = 16
    // block-misaligned structure: each dim d repeats base(d mod 8),
    // so the strong pairwise couplings (d, d+8) all STRADDLE the m=4
    // four-dim block boundaries — a contiguous split quantizes the
    // coupling twice independently until a rotation re-mixes it.
    // (Probed across fixtures: the rotation wins consistently when
    // blocks are >= 4 dims; 2-dim blocks are the degenerate regime
    // where rotating cannot beat quantizing the raw pairs.)
    def vec(seed: Int): Array[Float] = {
      val base = Array.tabulate(dim / 2)(d => math.sin(seed * 31 + d * 3))
      Array.tabulate(dim)(d =>
        (base(d % (dim / 2)) + 0.05 * math.sin(seed * 7 + d)).toFloat)
    }
    val df = (0L until 40L).map(i => i -> vec(i.toInt)).toDF("vec_id", "embedding")
    val queries = df.filter(col("vec_id") < 10)
    // exhaustive regime: whole-corpus shortlist degenerates to exact
    // rescoring of everything — must equal brute top-k bit for bit
    val all = Similarity.opqKnn(df, queries, "vec_id", "embedding",
      k = 3, m = 4, kCodes = 8, shortlist = 40).collect()
    val brute = Similarity.knnBrute(df, queries, "vec_id", "embedding", 3)
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(all.map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet === brute)
    // production regime: tight shortlist — the rotation must lift
    // recall over plain PQ at the SAME code budget on this corpus
    // (deterministic fixture: seeded training, fixed sample order;
    // measured 0.700 PQ vs 0.833 OPQ)
    val brutePairs = brute.map(t => (t._1, t._2))
    def recallOf(hits: Array[org.apache.spark.sql.Row]): Double = {
      val got = hits.map(r => (r.getLong(0), r.getLong(1))).toSet
      brutePairs.count(got.contains).toDouble / brutePairs.size
    }
    val opqRecall = recallOf(Similarity.opqKnn(df, queries, "vec_id", "embedding",
      k = 3, m = 4, kCodes = 8, shortlist = 5).collect())
    val pqRecall = recallOf(Similarity.pqKnn(df, queries, "vec_id", "embedding",
      k = 3, m = 4, kCodes = 8, shortlist = 5).collect())
    assert(opqRecall > pqRecall,
      s"OPQ recall $opqRecall not above plain PQ's $pqRecall at the same budget")
    assert(opqRecall >= 0.8, s"OPQ recall $opqRecall under the pinned floor")
  }

  test("allPairsCosineExact: scan-local exact-sum equals the relational " +
      "posexplode/decimal construction BITWISE (incl. null and ragged rows)") {
    // the r17 rewrite replaced the position-join + grouped decimal sum
    // with a closure-side exact accumulation of the SAME decimal terms;
    // this pins the replacement to the original relational arithmetic,
    // double-bit for double-bit
    val s = spark
    import s.implicits._
    def relational(embeddings: org.apache.spark.sql.DataFrame,
        idCol: String, vecCol: String, numQueries: Int) = {
      val pos = embeddings.select(
        col(idCol).as("vid"),
        posexplode(col(vecCol)).as(Seq("pos", "v")))
        .select(col("vid"), col("pos"), col("v").cast("double").as("v"))
      val norms = pos.groupBy("vid")
        .agg(sum((col("v") * col("v")).cast("decimal(30,15)")).as("n2"))
      val q = pos.filter(col("vid") < numQueries)
        .select(col("vid").as("query_id"), col("pos"), col("v").as("qv"))
      val dots = q
        .join(pos.withColumnRenamed("vid", "neighbor_id").withColumnRenamed("v", "cv"), Seq("pos"))
        .filter(col("query_id") =!= col("neighbor_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(sum((col("qv") * col("cv")).cast("decimal(30,15)")).as("dot"))
      dots
        .join(norms.withColumnRenamed("vid", "query_id").withColumnRenamed("n2", "qn"), "query_id")
        .join(norms.withColumnRenamed("vid", "neighbor_id").withColumnRenamed("n2", "cn"), "neighbor_id")
        .withColumn("cosine",
          col("dot").cast("double") / (sqrt(col("qn").cast("double")) * sqrt(col("cn").cast("double"))))
        .select(col("query_id"), col("neighbor_id"),
          round(col("cosine"), 6).as("cosine"))
    }
    def bits(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        java.lang.Double.doubleToRawLongBits(r.getDouble(2)))).toSet
    // fixture corpus
    assert(bits(Similarity.allPairsCosineExact(emb, "vec_id", "embedding", 10))
      === bits(relational(emb, "vec_id", "embedding", 10)))
    // synthetic: null vector, empty vector, ragged dims, a query id gap
    val odd = Seq[(Long, Array[Float])](
      (0L, Array(1.0f, 2.0f, -0.5f)),
      (1L, null),
      (2L, Array.empty[Float]),
      (3L, Array(0.25f, -1.5f)), // ragged: shorter than the queries
      (7L, Array(3.0f, 0.125f, 2.5f, -9.0f)), // ragged: longer
      (12L, Array(0.5f, 0.5f, 0.5f)))
      .toDF("vec_id", "embedding")
    assert(bits(Similarity.allPairsCosineExact(odd, "vec_id", "embedding", 10))
      === bits(relational(odd, "vec_id", "embedding", 10)))
  }
}
