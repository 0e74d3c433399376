package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Seeded generator of the clip tables. Everything a check reads derives
  * from splitmix64 over (seed, row index, stream), in integer arithmetic,
  * so `perfbench/faults.py` can recompute the expected verdicts without the
  * engine. The PCM payload is PCM16 little-endian mono, written here (not
  * through the engine's codec) so the inputs stay independent of the
  * program under test.
  */
object ClipGen {
  val Parts = 16
  val Buckets = 32
  val Rates: Array[Int] = Array(8000, 16000, 22050, 24000, 44100, 48000)
  val Codecs: Array[String] = Array("pcm_s16le", "flac", "opus", "mp3", "aac", "vorbis")
  private val Words: Array[String] =
    ("the quick brown fox jumps over lazy dog audio clip speech transcript " +
      "validation engine spark partition codec sample rate duration signal " +
      "noise ratio check verdict lineage").split(" ")

  def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Non-negative 63-bit hash of (seed, index, stream). */
  def h(seed: Long, i: Long, stream: Long): Long =
    mix64(mix64(seed * 1000003L + stream) + i) >>> 1

  def partId(p: Int): String = f"p$p%04d"
  def clipId(i: Long): String = f"clip_$i%012d"

  // ---- fault recipe (mirrored in faults.py) --------------------------------
  // A quarter of the partitions is faulted: p with (p - seed) mod 4 == 0.
  // Each faulted partition gets one row of each of the six fault kinds, at
  // local rows base + k * (rowsPerPart / 6), base = h(seed, p, 7) mod rows.
  // Kinds 0..5: unknown codec, dur_ms out of range, edited transcript,
  // payload corrupted below 30 dB, dropped row, extra row (kind 5's slot
  // stays as generated; the extra row is added separately).
  def faulted(seed: Long, p: Int): Boolean = Math.floorMod(p - seed, 4L) == 0L
  def faultAt(seed: Long, rowsPerPart: Int, i: Long): Int = {
    val p = (i / rowsPerPart).toInt
    if (!faulted(seed, p)) return -1
    val local = (i % rowsPerPart).toInt
    val base = (h(seed, p, 7) % rowsPerPart).toInt
    val stride = rowsPerPart / 6
    val k = Math.floorMod(local - base, rowsPerPart)
    if (k % stride == 0 && k / stride < 6) k / stride else -1
  }
  /** The extra row of a faulted partition: a well-formed clip whose key is
    * absent from the reference. Ids from 9e11 up never collide with a
    * generated row index.
    */
  def extraIndex(p: Int): Long = 900000000000L + p

  final case class Clip(part_id: String, clip_id: String, bytes: Array[Byte],
                        sr_hz: Int, dur_ms: Int, codec: String, transcript: String)

  // sine by table lookup with a 32.32 fixed-point phase: generation is
  // benchmark set-up, so it stays cheap next to the work it feeds
  private val SinBits = 16
  private val Sin: Array[Double] =
    Array.tabulate(1 << SinBits)(k => math.sin(2.0 * math.Pi * k / (1 << SinBits)))

  private def samples(sr: Int, durMs: Int, freq: Double, phase: Double): Array[Short] = {
    val n = (sr.toLong * durMs / 1000L).toInt
    val out = new Array[Short](n)
    val step = (freq / sr * 4294967296.0).toLong
    val step2 = (2.5 * freq / sr * 4294967296.0).toLong
    var ph = (phase / (2.0 * math.Pi) * 4294967296.0).toLong
    var ph2 = 0L
    val shift = 32 - SinBits
    val mask = (1 << SinBits) - 1
    var k = 0
    while (k < n) {
      val v = 0.35 * Sin(((ph >>> shift) & mask).toInt) + 0.12 * Sin(((ph2 >>> shift) & mask).toInt)
      out(k) = (v * 32767.0).toShort
      ph += step; ph2 += step2
      k += 1
    }
    out
  }

  private def pcm16(s: Array[Short]): Array[Byte] = {
    val b = new Array[Byte](s.length * 2)
    var k = 0
    while (k < s.length) {
      b(2 * k) = (s(k) & 0xff).toByte
      b(2 * k + 1) = ((s(k) >> 8) & 0xff).toByte
      k += 1
    }
    b
  }

  /** Row `i` of the reference; `noise` adds +1 LSB to every 8th sample
    * (SNR ≈ 87 dB, far above the 30 dB gate, but the bytes differ, so every
    * row goes through the decode and SNR kernel).
    */
  def clip(seed: Long, rowsPerPart: Int, i: Long, noise: Boolean): Clip = {
    val sr = if (h(seed, i, 1) % 10 < 7) 16000 else Rates((h(seed, i, 2) % Rates.length).toInt)
    val codec = if (h(seed, i, 3) % 10 < 6) "opus" else Codecs((h(seed, i, 4) % Codecs.length).toInt)
    val durMs = 200 + (h(seed, i, 5) % 601).toInt
    val freq = 80.0 + (h(seed, i, 6) % 3000).toDouble
    val phase = (h(seed, i, 8) % 1000).toDouble / 1000.0 * 2.0 * math.Pi
    val s = samples(sr, durMs, freq, phase)
    if (noise) {
      var k = 0
      while (k < s.length) { if (s(k) < Short.MaxValue) s(k) = (s(k) + 1).toShort; k += 8 }
    }
    val nWords = 3 + durMs / 150
    val words = (0 until nWords).map(j => Words((h(seed, i, 100 + j) % Words.length).toInt))
    Clip(partId((i / rowsPerPart).toInt), clipId(i), pcm16(s), sr, durMs, codec,
      words.mkString(" "))
  }

  /** Candidate row `i` with the fault recipe applied; None for a dropped row. */
  def faultedClip(seed: Long, rowsPerPart: Int, i: Long): Option[Clip] = {
    if (i >= extraIndex(0)) {
      val p = (i - extraIndex(0)).toInt
      val s = samples(16000, 300, 440.0, 0.0)
      return Some(Clip(partId(p), clipId(i), pcm16(s), 16000, 300, "opus", "extra row"))
    }
    val c = clip(seed, rowsPerPart, i, noise = true)
    faultAt(seed, rowsPerPart, i) match {
      case 0 => Some(c.copy(codec = "MUTATED"))
      case 1 => Some(c.copy(dur_ms = 0))
      case 2 => Some(c.copy(transcript = c.transcript + " EDITED"))
      case 3 => // sign flip: SNR = 10·log10(1/4) ≈ -6 dB, same length
        val b = c.bytes.clone()
        var k = 0
        while (k < b.length) {
          val v = -((b(k) & 0xff) | (b(k + 1) << 8)).toShort
          b(k) = (v & 0xff).toByte; b(k + 1) = ((v >> 8) & 0xff).toByte
          k += 2
        }
        Some(c.copy(bytes = b))
      case 4 => None
      case _ => Some(c)
    }
  }

  /** Writes one table bucketed and sorted on (part_id, clip_id). Only the
    * row index crosses the shuffle; the payload is synthesized after it, so
    * each bucket becomes one file with no payload shuffle.
    */
  def write(spark: SparkSession, kind: String, seed: Long, rowsPerPart: Int,
            name: String, path: String): Unit = {
    import spark.implicits._
    val n = Parts.toLong * rowsPerPart
    val idx = spark.range(0L, n, 1L, Buckets).toDF("i")
    val all = if (kind == "faulted")
      idx.union(spark.range(0L, Parts.toLong).toDF("p")
        .filter(r => faulted(seed, r.getLong(0).toInt))
        .select((col("p") + extraIndex(0)).as("i")))
    else idx
    val keyed = all.as[Long].map(i => (i, partId(
      (if (i >= extraIndex(0)) i - extraIndex(0) else i / rowsPerPart).toInt), clipId(i)))
      .toDF("i", "part_id", "clip_id")
      .repartition(Buckets, col("part_id"), col("clip_id"))
      .as[(Long, String, String)]
    val rows = keyed.flatMap { case (i, _, _) => kind match {
      case "ref" => Some(clip(seed, rowsPerPart, i, noise = false))
      case "cand" => Some(clip(seed, rowsPerPart, i, noise = true))
      case _ => faultedClip(seed, rowsPerPart, i)
    } }
    rows.write.mode("overwrite")
      .bucketBy(Buckets, "part_id", "clip_id").sortBy("part_id", "clip_id")
      .option("path", path).saveAsTable(name)
    spark.sql(s"DROP TABLE $name")
    ()
  }

  def register(spark: SparkSession, name: String, path: String): Unit = {
    spark.sql(
      s"""CREATE TABLE $name (
         |  part_id STRING, clip_id STRING, bytes BINARY, sr_hz INT,
         |  dur_ms INT, codec STRING, transcript STRING)
         |USING PARQUET
         |CLUSTERED BY (part_id, clip_id) SORTED BY (part_id, clip_id)
         |INTO $Buckets BUCKETS
         |LOCATION '$path'""".stripMargin)
    spark.table(name).schema
    ()
  }

  def dimCodec(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Codecs.toSeq.map(c => (c, if (c == "pcm_s16le" || c == "flac") "lossless" else "lossy"))
      .toDF("codec", "family")
  }
}
