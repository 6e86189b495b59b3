package graft.functions

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, Row, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables._

/** §2.11 custom-function surfaces (SURVEY.md §4.3): the three extension
  * mechanisms a user of the engine reaches for, each demonstrated against a
  * built-in oracle-checkable twin:
  *
  *  - `udf_scalar`: a Scala UDF (Levenshtein DP) next to the codegen'd
  *    built-in `levenshtein` — same values, so the oracle checks both; the
  *    perf ordering (native Expression > UDF) is the §4.3 guidance.
  *  - `udaf_typed`: numerically-stable Welford variance as an
  *    `Aggregator[IN, BUF, OUT]` registered via `functions.udaf` — the
  *    typed custom-aggregate surface (merge() is the partition-combine
  *    path that makes it distribution-correct).
  *  - `mm_meta` / `mm_decode` / `mm_resize`: multimodal-column plumbing.
  *    mm_meta treats text bytes as an opaque payload; mm_decode/mm_resize
  *    (round 11 — formerly the declared `_stub` stand-ins) decode REAL
  *    pixels: each doc gets a deterministic 24-bit BMP payload encoded
  *    through `javax.imageio` (the one codec the JDK ships offline), and
  *    the feature step decodes it back with `ImageIO.read` in the
  *    `mapPartitions` batch seam. BMP is lossless, so the decoded pixels
  *    equal the generator formula — the DuckDB oracle recomputes the
  *    expected checksums from that formula in pure SQL, which makes the
  *    differential gate a bit-exactness proof of the encode→decode round
  *    trip (a decoder that flipped rows — BMP stores bottom-up — swapped
  *    channels, or mis-padded fails the position-weighted hash).
  */
object Custom {

  /** Deterministic per-doc test image: 24-bit BMP, dims 8..16 (w, h) and
    * every pixel channel an integer formula of (doc_id, x, y) — both
    * mirrorable in SQL (`Math.floorMod` ↔ ((e % m) + m) % m). Encoded
    * through the real `javax.imageio` BMP writer, NOT hand-rolled bytes:
    * mm_decode's `ImageIO.read` then exercises the genuine codec path.
    * Probe-verified: byte length = 54 + h·ceil4(3w) and the pixel round
    * trip is exact for TYPE_3BYTE_BGR.
    */
  private[graft] def makeBmp(docId: Long): Array[Byte] = {
    val w = 8 + Math.floorMod(docId, 9L).toInt
    val h = 8 + Math.floorMod(docId * 7, 9L).toInt
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val r = Math.floorMod(docId + 3L * x + 7L * y, 256L).toInt
        val g = Math.floorMod(2L * x + 5L * y + 11L * docId, 256L).toInt
        val b = Math.floorMod(x.toLong * y + docId, 256L).toInt
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "bmp", bos)
    bos.toByteArray
  }

  /** In-memory decode — no FileCacheImageInputStream temp files on the
    * executor (setUseCache is a JVM-global; idempotent, safe per-task).
    */
  private[graft] def decodeImage(payload: Array[Byte]): java.awt.image.BufferedImage = {
    javax.imageio.ImageIO.setUseCache(false)
    javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
  }

  /** Classic DP Levenshtein — the Scala-UDF exemplar. Runs over CODE
    * POINTS, not UTF-16 chars (round 11, unicode edge variant): Spark's
    * native levenshtein counts code points, so a char-indexed DP would
    * diverge from it on astral-plane text (a surrogate pair is 2 chars
    * but 1 code point) — and the whole point of udf_scalar is
    * UDF == native.
    */
  /** Byte-mode edit distance: the same DP over UTF-8 BYTES (round-12
    * verdict item 7). DuckDB's levenshtein is byte-based, Java's
    * code-point-based — equal on ASCII, unmirrorable on multibyte, which
    * left udf_scalar/join_fuzzy carrying the gate's only two `divergence`
    * records (unicode edge variant). This twin shares DuckDB's semantics
    * exactly, so the byte column gates hash-exact on EVERY variant and
    * the KNOWN_DIVERGENT allowlist is retired; the code-point form stays
    * the user-facing default (UnicodeSemanticsSpec pins both).
    */
  def levenshteinBytes(a: String, b: String): Int =
    levDp(a.getBytes("UTF-8").map(_.toInt), b.getBytes("UTF-8").map(_.toInt))

  def levenshteinScala(a: String, b: String): Int =
    levDp(a.codePoints().toArray, b.codePoints().toArray)

  private def levDp(ac: Array[Int], bc: Array[Int]): Int = {
    val (m, n) = (ac.length, bc.length)
    var prev = Array.tabulate(n + 1)(identity)
    var cur = new Array[Int](n + 1)
    var i = 1
    while (i <= m) {
      cur(0) = i
      var j = 1
      while (j <= n) {
        val cost = if (ac(i - 1) == bc(j - 1)) 0 else 1
        cur(j) = math.min(math.min(cur(j - 1) + 1, prev(j) + 1), prev(j - 1) + cost)
        j += 1
      }
      val t = prev; prev = cur; cur = t
      i += 1
    }
    prev(n)
  }

  /** Welford/Chan parallel variance buffer. */
  case class WelfordBuf(n: Long, mean: Double, m2: Double)

  /** mm_decode's typed output row (Encoders.tuple caps at 5 fields). */
  case class DecodedImage(doc_id: Long, n_bytes: Long, width: Long,
                          height: Long, lum_sum: Long, px_hash: Long)

  /** Sample variance via Welford updates + Chan's pairwise merge — the
    * order-insensitive formulation that stays stable across any partition
    * split (unlike naive sum-of-squares).
    */
  object WelfordVar extends Aggregator[java.lang.Double, WelfordBuf, java.lang.Double] {
    def zero: WelfordBuf = WelfordBuf(0L, 0.0, 0.0)
    // boxed input/output on purpose: a primitive Double input decodes a
    // NULL row as 0.0 and silently counts it (caught by the edge-fixture
    // nulls sweep against DuckDB's NULL-skipping var_samp); boxed NULL is
    // skipped here exactly like the built-in, and an undefined variance
    // (n < 2) is NULL, not NaN, matching var_samp in both engines
    def reduce(b: WelfordBuf, x: java.lang.Double): WelfordBuf = {
      if (x == null) return b
      val n = b.n + 1
      val delta = x - b.mean
      val mean = b.mean + delta / n
      WelfordBuf(n, mean, b.m2 + delta * (x - mean))
    }
    def merge(a: WelfordBuf, b: WelfordBuf): WelfordBuf = {
      if (a.n == 0) b
      else if (b.n == 0) a
      else {
        val n = a.n + b.n
        val delta = b.mean - a.mean
        WelfordBuf(n,
          a.mean + delta * b.n / n,
          a.m2 + b.m2 + delta * delta * a.n * b.n / n)
      }
    }
    def finish(r: WelfordBuf): java.lang.Double =
      if (r.n < 2) null else java.lang.Double.valueOf(r.m2 / (r.n - 1))
    def bufferEncoder: Encoder[WelfordBuf] = Encoders.product[WelfordBuf]
    def outputEncoder: Encoder[java.lang.Double] = Encoders.DOUBLE
  }

  /** mm_dedup_phash band bit-width wb ∈ [8,30] from the hashed-doc count
    * nd: 8 through the whole fixture zone (nd ≤ 8000 — gate-neutral, the
    * pre-round-12 constant), then the smallest w with 2^w ≥ 14.3·√nd —
    * generated as exact integer thresholds 4^w div 205 (not float sqrt)
    * so both engines compute the identical w at every nd. Solved against
    * the √N df cap so expected bucket population ≈ cap/4 (see the
    * mm_dedup_phash comment); tops out at 30 (4·30 = 120 bits across the
    * two per-band hash words — bits ≥ 60 draw from the guarded second
    * word, computed only when wb > 15). The w = 30 rung's threshold is
    * 4³⁰ div 205 ≈ 5.6·10¹⁵ docs — the design never saturates on any
    * real corpus. Same CASE text runs on both engines.
    */
  private[graft] val phWbCase: String =
    "CASE WHEN nd <= 8000 THEN 8 " +
    (11 to 30).map(w => s"WHEN nd <= ${(1L << (2 * w)) / 205} THEN $w")
      .mkString(" ") + " ELSE 30 END"

  /** The mm_dedup_phash SimHash stage, extracted so the wb > 15 regime —
    * unreachable by any fixture (it needs > 2·10⁷ docs) — can be driven
    * directly by a spec with a forged knobs frame (PhashWideSpec):
    * single definition, two callers. Input: (doc_id, hx); knobs: 1-row
    * (wb). Output: one row per doc with the four per-band signature
    * words p0..p3 (band b's wb bits in their own BIGINT; global bit i
    * sources th for i < 60, the salted second word th2 — computed only
    * when wb > 15 — for i ≥ 60).
    */
  private[graft] def phashWords(hx: DataFrame, knobs: DataFrame): DataFrame = {
    val feats = hx.crossJoin(broadcast(knobs.select("wb")))
      .select(col("doc_id"), col("wb"), col("hx"),
        explode(expr("sequence(1, length(hx) - 3, 2)")).as("i"))
      .select(col("doc_id"), col("wb"),
        expr(h60Spark("substring(hx, CAST(i AS INT), 4)")).as("th"),
        expr("CASE WHEN wb > 15 THEN " +
          h60Spark("concat('q2', substring(hx, CAST(i AS INT), 4))") +
          " ELSE CAST(0 AS BIGINT) END").as("th2"))
    // Positional-popcount as 120 primitive SUM columns (round 18): the
    // round-17 form still exploded one row per SET bit (~2·wb rows per
    // shingle through an interpreted filter-HOF lambda), hash-aggregated
    // (doc, bit) counts, and joined a separately-scanned per-doc total m.
    // All three are gone: ONE codegen'd hash aggregate per (doc_id, wb)
    // computes n_b = Σ shingles (word(b) >> b%60) & 1 for every global
    // bit b ∈ [0, 120) as 120 branch-free BIGINT sums over the unexploded
    // shingle rows (primitive fixed-width buffer ⇒ HashAggregateExec with
    // whole-stage codegen and map-side combine — one ~1 KB row per doc
    // crosses the exchange instead of ~2·wb rows), plus m = count(1):
    // feats has exactly one row per shingle position, so the count IS the
    // per-doc total the old mTab join supplied (summed per DOC across
    // duplicated-pk rows — the dupkeys edge invariant, round 17).
    // Bits b ≥ 4·wb are summed too (their columns are never read below;
    // for wb ≤ 15, b ≥ 60 reads th2 = 0) — a runtime wb cannot prune the
    // column list, and dead branch-free sums are cheaper than any guard.
    // Band words then assemble IN-ROW over the bounded ns array (≤ 30
    // lambda steps per doc row — interpreted, but over |docs| rows, not
    // |shingles|): p_band = Σ_j 1<<j where 2·n_{band·wb+j} > m — the
    // identical majority test. A doc whose positions set NO bits now
    // emits its row with p0..p3 = 0 instead of vanishing (the old
    // explode-set-bits form dropped it): that matches the DuckDB oracle,
    // which emits every doc (ADVICE r17 #1 — probability ~2^(-4wb·m),
    // unreachable by any fixture, but now exact by construction).
    val nCols = (0 until 120).map { b =>
      val word = if (b < 60) "th" else "th2"
      sum(expr(s"shiftright($word, ${b % 60}) & 1")).as(s"n$b")
    }
    val pcols = (0 to 3).map(band =>
      expr(s"aggregate(sequence(0, CAST(wb AS INT) - 1), CAST(0 AS BIGINT), " +
        s"(acc, j) -> acc + CASE WHEN 2 * element_at(ns, $band * CAST(wb AS INT) + j + 1) > m " +
        s"THEN shiftleft(CAST(1 AS BIGINT), j) ELSE CAST(0 AS BIGINT) END)").as(s"p$band"))
    feats
      .groupBy("doc_id", "wb")
      .agg(count(lit(1)).as("m"), nCols: _*)
      .withColumn("ns", array((0 until 120).map(b => col(s"n$b")): _*))
      .select(col("doc_id") +: col("wb") +: pcols: _*)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "udf_scalar" -> ((s, d) => {
      // null-guarded: String params are reference types, so Spark passes
      // NULL straight in (no primitive short-circuit) — an unguarded UDF
      // would NPE the whole job on one dirty row, where the native
      // levenshtein beside it returns NULL (the fn_try discipline).
      // Round 12: three columns, split by comparison semantics —
      //   lev_bytes  = the UTF-8 byte-DP UDF, DuckDB's own semantics,
      //                gated hash-exact on EVERY variant incl. unicode;
      //   lev_native / lev_udf = Spark built-in + the code-point UDF,
      //                equal to byte distance exactly on ASCII, so both
      //                are windowed to ASCII inputs (NULL elsewhere,
      //                mirrored by the oracle's CASE) — code-point
      //                semantics on multibyte is pinned by
      //                UnicodeSemanticsSpec, the one place DuckDB cannot
      //                serve as the oracle.
      val levCp = udf((a: String, b: String) =>
        if (a == null || b == null) null
        else Integer.valueOf(levenshteinScala(a, b)))
      val levBy = udf((a: String, b: String) =>
        if (a == null || b == null) null
        else Integer.valueOf(levenshteinBytes(a, b)))
      val target = lit("Customer#000000042")
      val ascii = col("c_name").rlike("^[\\x00-\\x7F]*$")
      customer(s, d).select(
          col("c_custkey"),
          levBy(col("c_name"), target).cast(LongType).as("lev_bytes"),
          when(ascii, levenshtein(col("c_name"), target).cast(LongType))
            .as("lev_native"),
          when(ascii, levCp(col("c_name"), target).cast(LongType))
            .as("lev_udf"))
        .orderBy("c_custkey")
    }),

    "udaf_typed" -> ((s, d) => {
      val welford = udaf(WelfordVar)
      lineitem(s, d).groupBy("l_returnflag")
        .agg(
          r4(welford(col("l_quantity"))).as("var_welford"),
          r4(var_samp(col("l_quantity"))).as("var_builtin"))
        .orderBy("l_returnflag")
    }),

    "mm_meta" -> ((s, d) =>
      documents(s, d)
        .withColumn("payload", col("text").cast(BinaryType))
        .select(
          col("doc_id"),
          expr("octet_length(payload)").cast(LongType).as("n_bytes"),
          ascii(col("text")).cast(LongType).as("first_byte"),
          md5(col("payload")).as("content_hash"),
          element_at(array(lit("image"), lit("audio"), lit("video")),
            (col("doc_id") % 3 + 1).cast(IntegerType)).as("kind"))
        .orderBy("doc_id")),

    "mm_decode" -> ((s, d) => {
      // REAL pixel decode (round-10 verdict item 2; replaces the declared
      // mm_decode_stub byte math): every doc carries a deterministic
      // 24-bit BMP payload (makeBmp — encoded through javax.imageio), and
      // the feature step decodes it back with ImageIO.read inside the
      // mapPartitions batch seam, emitting decoded-pixel statistics: a
      // luminance-channel sum and a position-weighted pixel hash. BMP is
      // lossless, so the oracle recomputes both from the generator
      // formula in pure SQL — the hash compare proves the codec round
      // trip bit-exact (row order, channel order, padding). One unique
      // decode per doc_id (distinct before the map — a re-ingested
      // duplicate row must not decode twice); map-only until the
      // presentation sort, embarrassingly parallel at 100 TB.
      val src = documents(s, d).select(col("doc_id"))
        .filter(col("doc_id").isNotNull).distinct()
      implicit val enc: Encoder[DecodedImage] = Encoders.product[DecodedImage]
      src.mapPartitions { rows: Iterator[Row] =>
        rows.map { r =>
          val id = r.getLong(0)
          val payload = makeBmp(id)
          val img = decodeImage(payload)
          val (w, h) = (img.getWidth, img.getHeight)
          var lum = 0L
          var posHash = 0L
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val rgb = img.getRGB(x, y)
              val rr = (rgb >> 16) & 0xff
              val gg = (rgb >> 8) & 0xff
              val bb = rgb & 0xff
              lum += rr + gg + bb
              posHash += (y.toLong * w + x + 1) * (3L * rr + 5L * gg + 7L * bb)
              x += 1
            }
            y += 1
          }
          DecodedImage(id, payload.length.toLong, w.toLong, h.toLong, lum, posHash)
        }
      }.toDF()
        .orderBy("doc_id")
    }),

    "mm_resize" -> ((s, d) => {
      // image resize on REAL decoded pixels (round-10 verdict item 2;
      // replaces the declared mm_resize_stub header math): source dims
      // come from the ACTUAL decoded header (ImageIO.read of the same
      // BMP payload mm_decode decodes), the ViT/CLIP dim math scales the
      // long edge to the 224 budget with aspect preserved + 16px patch
      // count, AND a real nearest-neighbor 16×16 thumbnail kernel runs
      // over the decoded pixels (the image-dedup thumbnail shape),
      // hashed position-weighted. Nearest-neighbor is exact integer
      // sampling (sx = x·w div 16), so the oracle mirrors the whole
      // kernel in SQL over the generator formula — the resize output is
      // gate-checked pixel-for-pixel, not just its dims.
      val src = documents(s, d).select(col("doc_id"))
        .filter(col("doc_id").isNotNull).distinct()
      implicit val enc: Encoder[(Long, Long, Long, Long)] =
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
          Encoders.scalaLong, Encoders.scalaLong)
      src.mapPartitions { rows: Iterator[Row] =>
        rows.map { r =>
          val id = r.getLong(0)
          val img = decodeImage(makeBmp(id))
          val (w, h) = (img.getWidth, img.getHeight)
          var thumbHash = 0L
          var y = 0
          while (y < 16) {
            val sy = y * h / 16
            var x = 0
            while (x < 16) {
              val sx = x * w / 16
              val rgb = img.getRGB(sx, sy)
              val rr = (rgb >> 16) & 0xff
              val gg = (rgb >> 8) & 0xff
              val bb = rgb & 0xff
              thumbHash += (y.toLong * 16 + x + 1) * (3L * rr + 5L * gg + 7L * bb)
              x += 1
            }
            y += 1
          }
          (id, w.toLong, h.toLong, thumbHash)
        }
      }.toDF("doc_id", "src_w", "src_h", "thumb_hash")
        .withColumn("dst_w",
          expr("CASE WHEN src_w >= src_h THEN 224L ELSE (src_w * 224) div src_h END"))
        .withColumn("dst_h",
          expr("CASE WHEN src_h >= src_w THEN 224L ELSE (src_h * 224) div src_w END"))
        .withColumn("n_patches",
          expr("((dst_w + 15) div 16) * ((dst_h + 15) div 16)"))
        .select("doc_id", "src_w", "src_h", "dst_w", "dst_h", "n_patches", "thumb_hash")
        .orderBy("doc_id")
    }),

    "mm_dedup_ahash" -> ((s, d) => {
      // AVERAGE-HASH bucketing over REAL decoded pixels (round 11 — the
      // image-dedup CANDIDATE-grouping shape): decode the BMP, sample an
      // 8×8 nearest-neighbor luminance grid, threshold each cell against
      // the grid mean (in exact integers: L·64 > ΣL — no division,
      // identical in both engines), pack the 64 bits into two 32-bit
      // words (DuckDB's `<<` errors on a 63-bit shift where Spark wraps,
      // so one 64-bit word is not engine-portable), and group by the
      // hash. aHash is deliberately LOSSY: an equal-hash bucket is a
      // candidate duplicate cluster (a production pipeline byte-verifies
      // within buckets, e.g. md5 of the payload — mm_meta's column),
      // which is exactly what makes the plan a pair-free hash groupBy,
      // embarrassingly scalable at 100 TB; mm_dedup_phash remains the
      // banded NEAR-dup path. The generator formula plants TRUE byte
      // duplicates at id spacing 2304 (256 | 2304 for every channel, and
      // 9 | 2304 for both dims), guaranteed same-bucket; low-contrast
      // grids additionally collide by design. Oracle recomputes the hash
      // from the pixel formula in pure SQL.
      val src = documents(s, d).select(col("doc_id"))
        .filter(col("doc_id").isNotNull).distinct()
      implicit val enc: Encoder[(Long, Long, Long)] =
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong)
      src.mapPartitions { rows: Iterator[Row] =>
        rows.map { r =>
          val id = r.getLong(0)
          val img = decodeImage(makeBmp(id))
          val (w, h) = (img.getWidth, img.getHeight)
          val lum = new Array[Long](64)
          var s64 = 0L
          var i = 0
          while (i < 64) {
            val (x, y) = (i % 8, i / 8)
            val rgb = img.getRGB(x * w / 8, y * h / 8)
            lum(i) = ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
            s64 += lum(i)
            i += 1
          }
          var lo = 0L
          var hi = 0L
          i = 0
          while (i < 64) {
            if (lum(i) * 64 > s64) {
              if (i < 32) lo |= 1L << i else hi |= 1L << (i - 32)
            }
            i += 1
          }
          (id, hi, lo)
        }
      }.toDF("doc_id", "ahash_hi", "ahash_lo")
        .groupBy("ahash_hi", "ahash_lo")
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keep_doc"))
        .orderBy("ahash_hi", "ahash_lo")
    }),

    "mm_dedup_phash" -> ((s, d) => {
      // perceptual-hash near-dup detection for the binary modality — the
      // image-dedup shape (aHash/pHash → band → hamming verify): a
      // 4·wb-bit SimHash over 2-byte payload shingles stands in for the
      // DCT hash (same banding/verify plumbing a real pHash feeds), 4
      // disjoint bands of wb bits bucket candidates (4 bands ⇒ any pair
      // within hamming 3 shares ≥1 clean band, at ANY wb — pigeonhole),
      // and survivors verify on hamming ≤ 3 via a single codegen'd
      // xor+bit_count. Round 12 (the round-11 `weak`): the old FIXED
      // 8-bit band space + ABSOLUTE df≤20 cap collapsed recall silently
      // past ~10⁴ docs (every 256-value bucket filled, then got dropped
      // BEFORE the self-join — the key stayed fast by emitting nothing).
      // Now both knobs are corpus-scaled with exact integer thresholds,
      // gate-neutral at every fixture size (nd ≤ 8000 ⇒ wb = 8, cap =
      // 20 — bit-identical to the old plan):
      //   wb  = smallest w ∈ [11,15] with 205·nd ≤ 4^w past the fixture
      //         zone — i.e. 2^wb ≥ 14.3·√nd, holding expected bucket
      //         population ≤ 0.07·√nd ≈ cap/4 (the bandBitsCase
      //         discipline, solved against the √N cap instead of a
      //         constant target);
      //   cap = max(20, ⌈0.28·√nd⌉) — the dedup_ngram √N-relative cap:
      //         pair work per hot bucket ≤ cap², total ≤ cap²·4·2^wb
      //         ~ N·√N, and a cap ≈ 4× expected population drops only
      //         genuinely non-discriminative (boilerplate) buckets.
      // wb tops out at 30: the SimHash is held as FOUR per-band words
      // (band b's wb bits in their own BIGINT — hamming over the
      // concatenation decomposes to Σ_b bit_count(xor), and bucket
      // values are the words themselves), with global bit i sourcing
      // from the h60 word for i < 60 and from a second, independently
      // salted h60 word for i ≥ 60 — the second word is computed ONLY
      // when wb > 15 (plan-constant guard), so fixture-scale plans
      // never pay for it. The w = 30 rung's threshold is 4³⁰ div 205
      // ≈ 5.6·10¹⁵ docs: the width ladder never saturates on a real
      // corpus (the old single-word ceiling was ~8·10⁷ docs; the old
      // fixed-8-bit plan collapsed at ~10⁴). At wb ≤ 15 every bit,
      // bucket value, and hamming total is bit-identical to the packed
      // single-word form. Everything before the band join is map work.
      // The census join-back is broadcastable by construction: the kept
      // filter ENFORCES ≥2 occupancy (singleton buckets produce no
      // x.doc_id < y.doc_id pair, so the bound is output-neutral — lshCappedBuild's
      // n_bkt ≥ 2 discipline), so the census is ≤ min(4·2^wb, 2·nd)
      // rows — bounded by the band value space at small wb AND
      // corpus-bounded at the 2^30 extreme; the self-join and verify
      // join-backs are corpus-proportional and merge-locked.
      val hx = fanout(documents(s, d))
        .select(col("doc_id"), hex(col("text").cast(BinaryType)).as("hx"))
        .filter(length(col("hx")) >= 4)
      val knobs = hx.agg(count(lit(1)).as("nd"))
        .select(expr(phWbCase).as("wb"),
          expr("greatest(CAST(20 AS BIGINT), CAST(ceil(0.28 * sqrt(nd)) AS BIGINT))")
            .as("df_cap"))
      // round 18 (phash probe, warm ×3 at sf0.1): full key ~2.3 s, of
      // which signature+checkpoint ~1.63 s; the floor is the pinned md5
      // hash family plus one-time codegen of the 121-column aggregate.
      // §19 C20: kept, measured slower without it
      val ph = phashWords(hx, knobs).localCheckpoint(true)
      val bands = ph
        .select(col("doc_id"), explode(array(
          struct(lit(0L).as("band"), col("p0").as("bv")),
          struct(lit(1L).as("band"), col("p1").as("bv")),
          struct(lit(2L).as("band"), col("p2").as("bv")),
          struct(lit(3L).as("band"), col("p3").as("bv")))).as("bb"))
        .select(col("doc_id"), col("bb.band").as("band"), col("bb.bv").as("bv"))
      val kept = bands.join(
        broadcast(bands.groupBy("band", "bv").agg(count(lit(1)).as("n_df"))
          .crossJoin(broadcast(knobs.select("df_cap")))
          .filter(col("n_df") >= 2 && col("n_df") <= col("df_cap"))
          .select("band", "bv")),
        Seq("band", "bv"))
      val cand = kept.as("x").join(kept.hint("merge").as("y"),
          col("x.band") === col("y.band") && col("x.bv") === col("y.bv") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("a"), col("y.doc_id").as("b")).distinct()
      val pa = ph.select(col("doc_id").as("a"), col("p0").as("a0"),
        col("p1").as("a1"), col("p2").as("a2"), col("p3").as("a3"))
      val pb = ph.select(col("doc_id").as("b"), col("p0").as("b0"),
        col("p1").as("b1"), col("p2").as("b2"), col("p3").as("b3"))
      cand
        .join(pa.hint("merge"), "a")
        .join(pb.hint("merge"), "b")
        .select(col("a"), col("b"),
          expr("CAST(bit_count(a0 ^ b0) + bit_count(a1 ^ b1) " +
            "+ bit_count(a2 ^ b2) + bit_count(a3 ^ b3) AS BIGINT)").as("hamming"))
        .filter(col("hamming") <= 3)
        .orderBy("a", "b")
    }),

    "mm_window_energy" -> ((s, d) =>
      // audio-feature plumbing: OVERLAPPING windows (width 16 bytes, hop 8
      // — the STFT shape) over the opaque payload, per-window "energy" =
      // sum of byte values (the deterministic stand-in where a DSP kernel
      // would plug in). First 5 windows per doc keep the fixture output
      // bounded; generator + codegen'd hex arithmetic, no shuffle until
      // the final sort.
      documents(s, d)
        .select(col("doc_id"),
          hex(col("text").cast(BinaryType)).as("h"),
          expr("octet_length(cast(text as binary))").cast(LongType).as("n_bytes"))
        .select(col("doc_id"), col("h"), col("n_bytes"),
          explode(expr("filter(sequence(0, 4), w -> w * 8 < n_bytes)")).as("w"))
        .select(col("doc_id"),
          col("w").cast(LongType).as("win_idx"),
          (col("w") * 8).cast(LongType).as("win_off"),
          expr("""CAST(coalesce(aggregate(
                    transform(sequence(1, 16), i -> CASE
                      WHEN (w * 8 + i) * 2 <= length(h)
                      THEN CAST(conv(substring(h, CAST((w * 8 + i - 1) * 2 + 1 AS INT), 2), 16, 10) AS BIGINT)
                      ELSE CAST(0 AS BIGINT) END),
                    CAST(0 AS BIGINT), (a, v) -> a + v), 0) AS BIGINT)""").as("energy"))
        .orderBy("doc_id", "win_idx")),

    "mm_frame_sample" -> ((s, d) =>
      // multimodal frame sampling: treat the payload as an opaque "video"
      // byte stream and sample up to 4 fixed-width (16-byte) frames at a
      // payload-proportional stride — the Spark-side plumbing (schema,
      // per-frame fan-out, deterministic offsets, per-frame digest) is
      // real; a codec would replace the hex/md5 digest step. One narrow
      // projection + generator: embarrassingly parallel at 100 TB.
      documents(s, d)
        .select(col("doc_id"),
          hex(col("text").cast(BinaryType)).as("h"),
          expr("octet_length(cast(text as binary))").cast(LongType).as("n_bytes"))
        .withColumn("stride", greatest(lit(16L), expr("n_bytes div 4")))
        .select(col("doc_id"), col("h"), col("stride"),
          explode(expr("filter(sequence(0, 3), f -> f * stride < n_bytes)")).as("f"))
        .select(col("doc_id"),
          col("f").cast(LongType).as("frame_idx"),
          (col("f") * col("stride")).cast(LongType).as("frame_off"),
          md5(expr("substring(h, cast(f * stride * 2 + 1 as int), 32)")).as("frame_md5"))
        .orderBy("doc_id", "frame_idx"))
  )

  val oracles: Map[String, String] = Map(
    "mm_dedup_phash" ->
      s"""WITH hx AS (SELECT doc_id, hex(encode(text)) AS hx FROM documents
                      WHERE length(hex(encode(text))) >= 4),
         knobs AS (SELECT $phWbCase AS wb,
                     greatest(CAST(20 AS BIGINT),
                              CAST(ceil(0.28 * sqrt(nd)) AS BIGINT)) AS df_cap
                   FROM (SELECT count(*) AS nd FROM hx)),
         f AS (SELECT doc_id, ${h60Duck("substr(hx, CAST(i AS INT), 4)")} AS th,
                 CASE WHEN wb > 15
                      THEN ${h60Duck("concat('q2', substr(hx, CAST(i AS INT), 4))")}
                      ELSE CAST(0 AS BIGINT) END AS th2
               FROM (SELECT doc_id, hx,
                       unnest(range(1, length(hx) - 2, 2)) AS i FROM hx), knobs),
         w AS (SELECT doc_id, bit,
                 sum(CASE WHEN (((CASE WHEN bit < 60 THEN th ELSE th2 END)
                                  >> (bit % 60)) & 1) = 1
                          THEN 1 ELSE -1 END) AS w
               FROM f CROSS JOIN (SELECT unnest(range(0, 4 * wb)) AS bit
                                  FROM knobs) bits
               GROUP BY 1, 2),
         p AS (SELECT doc_id,
                 CAST(sum(CASE WHEN w > 0 AND bit // wb = 0
                               THEN CAST(1 AS BIGINT) << CAST(bit % wb AS INT)
                               ELSE 0 END) AS BIGINT) AS p0,
                 CAST(sum(CASE WHEN w > 0 AND bit // wb = 1
                               THEN CAST(1 AS BIGINT) << CAST(bit % wb AS INT)
                               ELSE 0 END) AS BIGINT) AS p1,
                 CAST(sum(CASE WHEN w > 0 AND bit // wb = 2
                               THEN CAST(1 AS BIGINT) << CAST(bit % wb AS INT)
                               ELSE 0 END) AS BIGINT) AS p2,
                 CAST(sum(CASE WHEN w > 0 AND bit // wb = 3
                               THEN CAST(1 AS BIGINT) << CAST(bit % wb AS INT)
                               ELSE 0 END) AS BIGINT) AS p3
               FROM w, knobs GROUP BY 1),
         bands AS (SELECT doc_id, 0 AS band, p0 AS bv FROM p
                   UNION ALL SELECT doc_id, 1, p1 FROM p
                   UNION ALL SELECT doc_id, 2, p2 FROM p
                   UNION ALL SELECT doc_id, 3, p3 FROM p),
         cnt AS (SELECT band, bv, count(*) AS n_df FROM bands GROUP BY 1, 2),
         kept AS (SELECT b.doc_id, b.band, b.bv FROM bands b
                  JOIN cnt USING (band, bv), knobs
                  WHERE n_df >= 2 AND n_df <= df_cap),
         cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
                  FROM kept x JOIN kept y
                    ON x.band = y.band AND x.bv = y.bv AND x.doc_id < y.doc_id)
         SELECT a, b,
           CAST(bit_count(xor(pa.p0, pb.p0)) + bit_count(xor(pa.p1, pb.p1))
              + bit_count(xor(pa.p2, pb.p2)) + bit_count(xor(pa.p3, pb.p3))
             AS BIGINT) AS hamming
         FROM cand JOIN p pa ON pa.doc_id = a JOIN p pb ON pb.doc_id = b
         WHERE bit_count(xor(pa.p0, pb.p0)) + bit_count(xor(pa.p1, pb.p1))
             + bit_count(xor(pa.p2, pb.p2)) + bit_count(xor(pa.p3, pb.p3)) <= 3
         ORDER BY a NULLS FIRST, b NULLS FIRST""",
    "mm_window_energy" ->
      """WITH b AS (
           SELECT doc_id, hex(encode(text)) AS h,
             CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
           FROM documents),
         w AS (
           SELECT doc_id, h, n_bytes,
             unnest(list_filter(range(0, 5), w -> w * 8 < n_bytes)) AS w
           FROM b)
         SELECT doc_id, CAST(w AS BIGINT) AS win_idx,
           CAST(w * 8 AS BIGINT) AS win_off,
           CAST(coalesce(list_sum(list_transform(range(1, 17), i -> CASE
                  WHEN (w * 8 + i) * 2 <= length(h)
                  THEN CAST(concat('0x', substr(h, CAST((w * 8 + i - 1) * 2 + 1 AS INT), 2)) AS INT)
                  ELSE 0 END)), 0) AS BIGINT) AS energy
         FROM w ORDER BY doc_id NULLS FIRST, win_idx NULLS FIRST""",
    "mm_frame_sample" ->
      """WITH b AS (
           SELECT doc_id, hex(encode(text)) AS h,
             CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
             greatest(CAST(16 AS BIGINT),
                      CAST(octet_length(encode(text)) AS BIGINT) // 4) AS stride
           FROM documents),
         f AS (
           SELECT doc_id, h, stride,
             unnest(list_filter(range(0, 4), f -> f * stride < n_bytes)) AS f
           FROM b)
         SELECT doc_id, CAST(f AS BIGINT) AS frame_idx,
           CAST(f * stride AS BIGINT) AS frame_off,
           md5(substr(h, CAST(f * stride * 2 + 1 AS INT), 32)) AS frame_md5
         FROM f ORDER BY doc_id NULLS FIRST, frame_idx NULLS FIRST""",
    "udf_scalar" ->
      """SELECT c_custkey,
         levenshtein(c_name, 'Customer#000000042') AS lev_bytes,
         CASE WHEN regexp_matches(c_name, '^[\x00-\x7f]*$')
              THEN levenshtein(c_name, 'Customer#000000042') END AS lev_native,
         CASE WHEN regexp_matches(c_name, '^[\x00-\x7f]*$')
              THEN levenshtein(c_name, 'Customer#000000042') END AS lev_udf
         FROM customer ORDER BY c_custkey NULLS FIRST""",
    "udaf_typed" ->
      """SELECT l_returnflag,
         round(var_samp(l_quantity), 4) AS var_welford,
         round(var_samp(l_quantity), 4) AS var_builtin
         FROM lineitem GROUP BY 1 ORDER BY l_returnflag NULLS FIRST""",
    "mm_meta" ->
      """SELECT doc_id,
         octet_length(encode(text)) AS n_bytes,
         ascii(text) AS first_byte,
         md5(text) AS content_hash,
         (['image', 'audio', 'video'])[CAST(doc_id % 3 + 1 AS INTEGER)] AS kind
         FROM documents ORDER BY doc_id NULLS FIRST""",
    "mm_resize" ->
      // the whole kernel mirrored in SQL over the generator formula: dims,
      // ViT dim math, and the 16×16 nearest-neighbor thumbnail hash —
      // `//` floors like Spark's `div` truncates (all operands ≥ 0 here);
      // ((e % m) + m) % m mirrors Math.floorMod; integer sums CAST BIGINT
      """WITH docs AS (SELECT DISTINCT doc_id FROM documents WHERE doc_id IS NOT NULL),
         dims AS (SELECT doc_id,
             8 + ((doc_id % 9) + 9) % 9 AS w,
             8 + (((doc_id * 7) % 9) + 9) % 9 AS h
           FROM docs),
         thumb AS (SELECT doc_id, w, h, x.i AS x, y.i AS y,
             (x.i * w) // 16 AS sx, (y.i * h) // 16 AS sy
           FROM dims, range(0, 16) x(i), range(0, 16) y(i)),
         px AS (SELECT doc_id, w, h, x, y,
             ((doc_id + 3*sx + 7*sy) % 256 + 256) % 256 AS r,
             ((2*sx + 5*sy + 11*doc_id) % 256 + 256) % 256 AS g,
             ((sx*sy + doc_id) % 256 + 256) % 256 AS b
           FROM thumb),
         agg AS (SELECT doc_id, w, h,
             CAST(sum((y*16 + x + 1) * (3*r + 5*g + 7*b)) AS BIGINT) AS thumb_hash
           FROM px GROUP BY 1, 2, 3),
         r AS (SELECT doc_id, w AS src_w, h AS src_h, thumb_hash,
             CASE WHEN w >= h THEN 224 ELSE (w * 224) // h END AS dst_w,
             CASE WHEN h >= w THEN 224 ELSE (h * 224) // w END AS dst_h
           FROM agg)
         SELECT doc_id, src_w, src_h, dst_w, dst_h,
           ((dst_w + 15) // 16) * ((dst_h + 15) // 16) AS n_patches, thumb_hash
         FROM r ORDER BY doc_id NULLS FIRST""",
    "mm_dedup_ahash" ->
      // the full ahash recomputed from the pixel-generator formula: 8×8
      // nearest-neighbor luminance grid, integer mean threshold
      // (L·64 > ΣL), two 32-bit words (`<<` stays within BIGINT range)
      """WITH docs AS (SELECT DISTINCT doc_id FROM documents WHERE doc_id IS NOT NULL),
         dims AS (SELECT doc_id,
             8 + ((doc_id % 9) + 9) % 9 AS w,
             8 + (((doc_id * 7) % 9) + 9) % 9 AS h
           FROM docs),
         px AS (SELECT doc_id, y.i * 8 + x.i AS pos,
               ((doc_id + 3*((x.i*w)//8) + 7*((y.i*h)//8)) % 256 + 256) % 256
             + ((2*((x.i*w)//8) + 5*((y.i*h)//8) + 11*doc_id) % 256 + 256) % 256
             + ((((x.i*w)//8)*((y.i*h)//8) + doc_id) % 256 + 256) % 256 AS lum
           FROM dims, range(0, 8) x(i), range(0, 8) y(i)),
         tot AS (SELECT doc_id, CAST(sum(lum) AS BIGINT) AS s64 FROM px GROUP BY 1),
         words AS (SELECT px.doc_id,
             CAST(sum(CASE WHEN lum * 64 > s64 AND pos >= 32
                           THEN (CAST(1 AS BIGINT) << (pos - 32))
                           ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS ahash_hi,
             CAST(sum(CASE WHEN lum * 64 > s64 AND pos < 32
                           THEN (CAST(1 AS BIGINT) << pos)
                           ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS ahash_lo
           FROM px JOIN tot USING (doc_id) GROUP BY 1)
         SELECT ahash_hi, ahash_lo, count(*) AS n_docs, min(doc_id) AS keep_doc
         FROM words GROUP BY 1, 2
         ORDER BY ahash_hi NULLS FIRST, ahash_lo NULLS FIRST""",
    "mm_decode" ->
      // decoded-pixel checksums recomputed from the generator formula:
      // BMP is lossless, so any Spark/oracle divergence means the codec
      // round trip (or the decode loop) is not bit-exact. n_bytes is the
      // exact BMP layout: 54-byte header + h rows padded to 4 bytes.
      """WITH docs AS (SELECT DISTINCT doc_id FROM documents WHERE doc_id IS NOT NULL),
         dims AS (SELECT doc_id,
             8 + ((doc_id % 9) + 9) % 9 AS w,
             8 + (((doc_id * 7) % 9) + 9) % 9 AS h
           FROM docs),
         px AS (SELECT doc_id, w, h, x.i AS x, y.i AS y,
             ((doc_id + 3*x.i + 7*y.i) % 256 + 256) % 256 AS r,
             ((2*x.i + 5*y.i + 11*doc_id) % 256 + 256) % 256 AS g,
             ((x.i*y.i + doc_id) % 256 + 256) % 256 AS b
           FROM dims, range(0, 16) x(i), range(0, 16) y(i)
           WHERE x.i < w AND y.i < h)
         SELECT doc_id,
           54 + h * ((w*3 + 3) // 4 * 4) AS n_bytes,
           w AS width, h AS height,
           CAST(sum(r + g + b) AS BIGINT) AS lum_sum,
           CAST(sum((y*w + x + 1) * (3*r + 5*g + 7*b)) AS BIGINT) AS px_hash
         FROM px GROUP BY doc_id, w, h
         ORDER BY doc_id NULLS FIRST"""
  )
}
