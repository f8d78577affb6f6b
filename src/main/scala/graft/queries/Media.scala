package graft.queries

import org.apache.spark.sql.functions._

import graft.geo.Projection
import graft.multimodal.{Multimodal, Warp}

/** Multimodal suite: operators that compute FROM the binary column
  * map-side, verified by DuckDB oracles that mirror the blob-generating
  * formula analytically (the oracle never sees bytes — matching results
  * prove the byte plumbing: encode → decode → extract round-trips the
  * closed form).
  */
object Media {

  // Shared oracle fragments mirroring Multimodal.FakeCodec.
  private val kindSql = "CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END"
  private val lenSql = "(64 + doc_id % 128)"

  /** Fake 128×64 grayscale panoramas (1 in 10 docs), persisted once per
    * (session, sfDir): q75 and q87 run the SAME warp fan-out over the
    * same bytes, and each previously re-encoded the full panorama set
    * through its own UDF — double the encode cost and double the
    * exposure to UDF-timing noise (the round-3 bench's apparent
    * regressions were exactly this cluster).
    */
  private def panoramas(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    graft.pipeline.SessionCache.getOrPersist(spark, s"panos:$dir") {
      val encodeImg = udf((id: Long) => Warp.encodeImage(id, 128, 64))
      graft.sources.Tables.documents(spark, dir)
        .filter(col("doc_id") % 10 === 0) // 1 in 10 docs "has a panorama"
        .select(col("doc_id").cast("long").as("media_id"))
        .withColumn("bytes", encodeImg(col("media_id")))
    }

  /** Shared analytic oracle for the warp queries (q75 fake-codec, q104
    * real-codec): the GetPerspective dataflow with the per-view
    * constants (K⁻¹, Rodrigues view rotation) computed once by the same
    * Scala code and inlined as full-precision literals. Source is the
    * 128×64 closed-form panorama in both — the two queries differ only
    * in which CODEC carries those pixels through the engine.
    */
  private def viewSumsSql(
      outW: Int, outH: Int, fov: Double, thetas: Seq[Int], phi: Double): String =
    s"""
        ${viewPixCte(outW, outH, fov, thetas, phi)}
        SELECT media_id, th::INT AS theta, sum(v)::BIGINT AS view_sum
        FROM pix GROUP BY media_id, th ORDER BY media_id, theta"""

  /** q87's eps-oracle mirror: the same per-pixel grid, folded through
    * the view checksum's order-dependent rolling hash (row-major y,x —
    * exactly Warp.perspectiveViews' byte order). No float tolerance
    * exists for a checksum; the race is EXACT, and is sound because the
    * pixel grid itself is proven exact by q75 (identical view geometry,
    * integer pixel sums hash-green) — the only way this mirror can fail
    * is a genuine half-pixel boundary landing, which would be a finding,
    * not noise.
    */
  private def viewChecksumSql(
      outW: Int, outH: Int, fov: Double, thetas: Seq[Int], phi: Double): String =
    s"""
        ${viewPixCte(outW, outH, fov, thetas, phi)},
        ord AS (SELECT media_id, th, list(v ORDER BY y, x) AS vs
                FROM pix GROUP BY media_id, th)
        SELECT media_id, th::BIGINT AS theta,
               list_reduce(list_prepend(0, vs),
                           (acc, b) -> (acc * 33 + b) % 1000003) AS view_checksum
        FROM ord ORDER BY media_id, theta"""

  private def viewPixCte(
      outW: Int, outH: Int, fov: Double, thetas: Seq[Int], phi: Double): String =
    s"""
        ${viewSrcCte(outW, outH, fov, thetas, phi)},
        pix AS (SELECT media_id, th, x, y,
                       (media_id * 31 + (floor(sx + 0.5)::BIGINT % 128) * 7 +
                        least(63, greatest(0, floor(sy + 0.5)::BIGINT)) * 13) % 256 AS v
                FROM src)"""

  /** Shared warp-geometry CTE chain, ending at `src` (per output pixel:
    * source coordinates sx, sy on the 128×64 panorama) — the channel
    * formulas differ between the gray family and the color-JPEG eps
    * oracle, the geometry never does.
    */
  private def viewSrcCte(
      outW: Int, outH: Int, fov: Double, thetas: Seq[Int], phi: Double): String = {
    val (_, kInv) = Projection.calibMatrix(outW, outH, fov)
    def l(d: Double) = s"($d)"
    val rots = thetas.map { t =>
      val r = Projection.viewRotation(t, phi)
      s"($t, ${r.map(_.toString).mkString(", ")})"
    }.mkString(",\n          ")
    val camX = s"(${l(kInv(0))}*(x::DOUBLE) + ${l(kInv(1))}*(y::DOUBLE) + ${l(kInv(2))}*(1.0))"
    val camY = s"(${l(kInv(3))}*(x::DOUBLE) + ${l(kInv(4))}*(y::DOUBLE) + ${l(kInv(5))}*(1.0))"
    val camZ = s"(${l(kInv(6))}*(x::DOUBLE) + ${l(kInv(7))}*(y::DOUBLE) + ${l(kInv(8))}*(1.0))"
    s"""
        WITH imgs AS (SELECT doc_id AS media_id FROM documents WHERE doc_id % 10 = 0),
        rot AS (SELECT * FROM (VALUES
          $rots
        ) r(th, r00, r01, r02, r10, r11, r12, r20, r21, r22)),
        px AS (SELECT unnest(generate_series(0, ${outW - 1})) AS x),
        py AS (SELECT unnest(generate_series(0, ${outH - 1})) AS y),
        cam AS (SELECT media_id, th, x, y,
                       r00*$camX + r01*$camY + r02*$camZ AS wx,
                       r10*$camX + r11*$camY + r12*$camZ AS wy,
                       r20*$camX + r21*$camY + r22*$camZ AS wz
                FROM imgs, rot, px, py),
        ll AS (SELECT *, sqrt(wx*wx + wy*wy + wz*wz) AS n FROM cam),
        src AS (SELECT media_id, th, x, y,
                       (atan2(wx/n, wz/n) / (2.0*pi()) + 0.5) * 127.0 AS sx,
                       (asin(wy/n) / pi() + 0.5) * 63.0 AS sy
                FROM ll)"""
  }

  /** q106's eps oracle: per-view per-channel sums of the closed-form
    * ramps over the SAME warp geometry — what the JPEG round trip must
    * land within outW·outH·[[Warp.ColorJpegPixelTolerance]] of.
    * Channel formulas mirror Warp.colorPixel exactly (integer //).
    */
  private def colorViewSumsEpsSql(
      outW: Int, outH: Int, fov: Double, thetas: Seq[Int], phi: Double): String =
    s"""
        ${viewSrcCte(outW, outH, fov, thetas, phi)},
        pix AS (SELECT media_id, th,
                       (media_id * 37 % 97) + ((floor(sx + 0.5)::BIGINT % 128) * 100) // 127 AS vr,
                       (media_id * 53 % 97) + (least(63, greatest(0, floor(sy + 0.5)::BIGINT)) * 100) // 63 AS vg,
                       (media_id * 71 % 97) + (((floor(sx + 0.5)::BIGINT % 128) +
                          least(63, greatest(0, floor(sy + 0.5)::BIGINT))) * 100) // 190 AS vb
                FROM src)
        SELECT media_id, th::INT AS theta,
               sum(vr)::BIGINT AS sum_r, sum(vg)::BIGINT AS sum_g, sum(vb)::BIGINT AS sum_b
        FROM pix GROUP BY media_id, th ORDER BY media_id, theta"""

  val all: Seq[QueryDef] = Seq(

    // ── Decode-metadata rollup per kind. Bytes parsed Spark-side; oracle
    // recomputes the header fields from the id.
    QueryDef(
      "q90_media_meta",
      Some(s"""
        SELECT $kindSql AS kind, count(*) AS n,
               CAST(sum($lenSql) AS BIGINT) AS total_payload,
               round(avg(16 + doc_id % 48), 6) AS avg_width,
               round(avg(16 + doc_id % 32), 6) AS avg_height
        FROM documents GROUP BY 1 ORDER BY kind"""),
      uses = Seq("media"))( (spark, dir) =>
      Multimodal.withMeta(Multimodal.mediaCached(spark, dir))
        .groupBy(col("kind"))
        .agg(count(lit(1)).as("n"),
          sum(col("payload_len")).cast("long").as("total_payload"),
          round(avg(col("width")), 6).as("avg_width"),
          round(avg(col("height")), 6).as("avg_height"))
        .orderBy(col("kind"))),

    // ── Per-blob feature extraction (mean byte + order-dependent rolling
    // checksum). Oracle folds the generating formula with list_reduce in
    // exact BIGINT arithmetic.
    QueryDef(
      "q91_media_features",
      Some(s"""
        SELECT doc_id AS media_id,
               round(list_aggregate(payload, 'sum') / (len(payload) * 1.0), 6) AS mean_byte,
               list_reduce(list_prepend(0, payload), (acc, b) -> (acc * 33 + b) % 1000003) AS checksum
        FROM (
          SELECT doc_id,
                 list_transform(generate_series(0, $lenSql - 1),
                                i -> (doc_id * 31 + i * 7) % 256) AS payload
          FROM documents)
        ORDER BY media_id"""),
      uses = Seq("media"))( (spark, dir) =>
      Multimodal.withFeatures(Multimodal.mediaCached(spark, dir))
        .select(col("media_id"), round(col("mean_byte"), 6).as("mean_byte"),
          col("checksum"))
        .orderBy(col("media_id"))),

    // ── M13: equirectangular→perspective warp over fake grayscale
    // panoramas — images × 4 thetas fan-out, per-view checksum. Rows-only
    // (trig inside the projection); kernel pinned by WarpSpec against
    // the golden-tested geometry.
    QueryDef("q87_perspective_views", None, uses = Seq("panos"), noOracleReason = Some(
      "equirect-to-perspective warp sums millions of trig-placed pixels; libm ULP " +
        "drift vs DuckDB flips half-pixel rounding and the checksum hash; geometry " +
        "golden-pinned by WarpSpec and the oracled companion q75 runs the same " +
        "warpView kernel with inlined full-precision view constants; full-corpus " +
        "VALUE verification via the declared eps oracle (eps_oracle_sql.json)"),
      epsOracle = Some(EpsOracle(
        _ => Some(viewChecksumSql(48, 48, 60, Seq(0, 90, 180, 270), -10)),
        atol = Map.empty,
        note = "every view's rolling pixel checksum raced EXACTLY against the " +
          "analytic mirror (see viewChecksumSql: soundness rides on q75's " +
          "hash-green pixel sums over the identical view geometry)")))(
      (spark, dir) => {
      graft.multimodal.Warp
        .perspectiveViews(panoramas(spark, dir), 60, Seq(0, 90, 180, 270), -10, 48, 48)
        .select(col("media_id"), col("theta").cast("long").as("theta"),
          col("view_checksum"))
        .orderBy(col("media_id"), col("theta"))
    }),

    // ── Partial oracle for q87: the equirect→perspective warp geometry
    // through the REAL Warp.warpView kernel, verified as exact integer
    // pixel sums. The per-view constants (K⁻¹ and the Rodrigues view
    // rotation) are computed ONCE by the same Scala code and inlined as
    // full-precision literals (Double.toString round-trips), so the SQL
    // mirror pays only per-pixel atan2/asin/sqrt to libm; pixel indices
    // come from round() — a half-pixel flip needs the true position
    // within ~1e-14 of a .5 boundary. Pixel values and sums are integers:
    // no float tolerance anywhere in the output.
    QueryDef(
      "q75_view_sums",
      Some(viewSumsSql(48, 48, 60, Seq(0, 90, 180, 270), -10)),
      uses = Seq("panos"))( (spark, dir) => {
      val viewSum = udf { (view: Array[Byte]) =>
        var s = 0L; view.foreach(b => s += (b & 0xff)); s
      }
      Warp.perspectiveViews(panoramas(spark, dir), 60, Seq(0, 90, 180, 270), -10, 48, 48)
        .select(col("media_id"), col("theta"), viewSum(col("view")).as("view_sum"))
        .orderBy(col("media_id"), col("theta"))
    }),

    // ── S6/S7/M13 with a REAL codec in the declared-query gate: each
    // panorama is encoded as an actual grayscale PNG (stock-JDK
    // javax.imageio writer) and decoded back through
    // Warp.imageIoPixelDecoder — the production decode path the
    // reference exercises with cv2.imread/PIL.Image.open
    // (Equirec2Perspec.py:65-67, panorama_photo.py:36) — before the
    // same warpView kernel runs. PNG is lossless, so the decoded raster
    // equals the closed form and the analytic oracle family still
    // applies; distinct view geometry (fov 100, θ∈{45,225}, φ=+5,
    // 32×32) keeps it a genuinely different query from q75, not a
    // re-hash. Scale shape: identical to q87's pure fan-out map — the
    // codec round-trip rides inside the same zero-shuffle pipeline.
    QueryDef(
      "q104_real_codec_views",
      Some(viewSumsSql(32, 32, 100, Seq(45, 225), 5)))( (spark, dir) => {
      val toPng = udf((id: Long) => Warp.encodePng(id, 128, 64))
      val imgs = graft.sources.Tables.documents(spark, dir)
        .filter(col("doc_id") % 10 === 0)
        .select(col("doc_id").cast("long").as("media_id"))
        .withColumn("bytes", toPng(col("media_id")))
      val viewSum = udf { (view: Array[Byte]) =>
        var s = 0L; view.foreach(b => s += (b & 0xff)); s
      }
      Warp.perspectiveViews(imgs, 100, Seq(45, 225), 5, 32, 32,
          Warp.imageIoPixelDecoder)
        .select(col("media_id"), col("theta"), viewSum(col("view")).as("view_sum"))
        .orderBy(col("media_id"), col("theta"))
    }),

    // ── S6/S7/M13 through a REAL lossy COLOR codec (VERDICT r11 #4):
    // each panorama is three smooth integer ramps encoded as an actual
    // color JPEG (stock-JDK writer, quality 0.95), decoded back through
    // the production 3-channel decode seam, and warped per channel by
    // the same warpView kernel (the reference warps all BGR planes —
    // Equirec2Perspec.py:87-91). DCT loss makes an exact oracle
    // impossible BY DESIGN, so this is the eps machinery's flagship:
    // the analytic closed-form sums bound the decoded sums within
    // outW·outH·ColorJpegPixelTolerance, with the per-pixel tolerance
    // itself measured and pinned by WarpCodecSpec. Distinct geometry
    // again (fov 75, θ∈{30,210}, φ=0, 24×24). Scale shape: the same
    // zero-shuffle map fan-out as q87/q104.
    QueryDef("q106_color_jpeg_views", None, noOracleReason = Some(
      "JPEG DCT loss is encoder-specific: no engine-independent exact form of the " +
        "decoded raster exists, so a hash oracle is impossible by design; the codec " +
        "error is bounded (WarpCodecSpec pins per-pixel round-trip error under " +
        "Warp.ColorJpegPixelTolerance) and the declared eps oracle value-races every " +
        "view's channel sums against the analytic closed form under the derived " +
        "tolerance (eps_oracle_sql.json)"),
      epsOracle = Some(EpsOracle(
        _ => Some(colorViewSumsEpsSql(24, 24, 75, Seq(30, 210), 0)),
        atol = {
          val t = (24 * 24 * Warp.ColorJpegPixelTolerance).toDouble
          Map("sum_r" -> t, "sum_g" -> t, "sum_b" -> t)
        },
        note = "real color-JPEG encode→decode→warp raced against the closed-form " +
          "channel ramps: per-view channel sums within 24·24·" +
          s"${Warp.ColorJpegPixelTolerance} (pixel count × the WarpCodecSpec-pinned " +
          "per-pixel DCT bound); keys and row counts compare exactly")))(
      (spark, dir) => {
      val toJpeg = udf((id: Long) => Warp.encodeColorJpeg(id, 128, 64))
      val imgs = graft.sources.Tables.documents(spark, dir)
        .filter(col("doc_id") % 10 === 0)
        .select(col("doc_id").cast("long").as("media_id"))
        .withColumn("bytes", toJpeg(col("media_id")))
      Warp.colorPerspectiveSums(imgs, 75, Seq(30, 210), 0, 24, 24)
        .orderBy(col("media_id"), col("theta"))
    }),

    // ── Resize: factor-4 area-average downsample of every payload
    // (the thumbnail/feature-map shape), computed FROM THE BYTES
    // map-side; declared output is the per-blob resized length +
    // checksum so rows stay small. The oracle regenerates each output
    // byte as the floor-mean of its 4 generating-formula inputs —
    // matching sums prove the resample kernel touched exactly the
    // right bytes with the right arithmetic.
    QueryDef(
      "q68_resize",
      Some(s"""
        WITH m AS (SELECT doc_id AS media_id, $lenSql AS plen FROM documents),
        j AS (SELECT media_id, plen, u.j FROM m,
                   (SELECT unnest(generate_series(0, 47)) AS j) u
              WHERE u.j < plen // 4),
        v AS (SELECT media_id, plen,
                     (((media_id*31 + (4*j+0)*7) % 256)
                    + ((media_id*31 + (4*j+1)*7) % 256)
                    + ((media_id*31 + (4*j+2)*7) % 256)
                    + ((media_id*31 + (4*j+3)*7) % 256)) // 4 AS b
              FROM j)
        SELECT media_id, CAST(plen // 4 AS BIGINT) AS out_len,
               CAST(sum(b) AS BIGINT) AS resized_sum
        FROM v GROUP BY media_id, plen ORDER BY media_id"""),
      uses = Seq("media"))( (spark, dir) => {
      val byteSum = udf { (b: Array[Byte]) =>
        if (b == null) None
        else { var s = 0L; b.foreach(x => s += x & 0xff); Some(s) }
      }
      Multimodal.resized(Multimodal.mediaCached(spark, dir), 4)
        .select(col("media_id"),
          length(col("resized")).cast("long").as("out_len"),
          byteSum(col("resized")).as("resized_sum"))
        .orderBy(col("media_id"))
    }),

    // ── Frame sampling: payload as 16-byte frames, every 4th kept,
    // per-frame byte sums — the mapPartitions video-kernel shape.
    QueryDef(
      "q92_frame_samples",
      Some(s"""
        SELECT doc_id AS media_id, f AS frame_idx,
               CAST(sum((doc_id * 31 + (f * 16 + j) * 7) % 256) AS BIGINT) AS frame_sum
        FROM documents,
             (SELECT unnest(generate_series(0, 11)) AS f),
             (SELECT unnest(generate_series(0, 15)) AS j)
        WHERE f % 4 = 0 AND f < $lenSql // 16
        GROUP BY 1, 2 ORDER BY media_id, frame_idx"""),
      uses = Seq("media"))( (spark, dir) =>
      Multimodal.frameSamples(Multimodal.mediaCached(spark, dir))
        .select(col("media_id"), col("frame_idx").cast("long").as("frame_idx"),
          col("frame_sum"))
        .orderBy(col("media_id"), col("frame_idx")))
  )
}
