package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.Path
import java.time.LocalDate
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. Everything is a pure function of the seed,
  * so one seed always yields the same inputs. */
object Gen {

  // ------------------------------------------------------------------
  // Bronze polls (FIXTURES.md §1 envelope, §5 anomaly mix)
  // ------------------------------------------------------------------

  val Day: LocalDate = LocalDate.of(2026, 2, 23)
  val Vehicles = 1400
  val Lines = 280
  private val TimeFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  /** Per-record anomaly shares. Normal motion stays at or below
    * 55 km/h and a glitch jumps about 5 km, so no kept segment lands
    * near the 70 km/h cut, where engines could round differently. */
  object Share {
    val Repeat = 0.15 // GPS not updated: last poll's record again
    val Bbox = 0.004
    val Stale = 0.003
    val EmptyLine = 0.002
    val PaddedLine = 0.01
    val Glitch = 0.002
    val Conflict = 0.001 // same (VehicleNumber, Time), other position
  }

  private final class Vehicle(val id: String, val line: String,
      var lat: Double, var lon: Double, val vLat: Double, val vLon: Double) {
    var dLat = vLat; var dLon = vLon
    var tSec: Long = -1L
    var last: String = null
  }

  /** One poll file per element: the single-line `{"result": [...]}`
    * object the ingester writes, plus the count of records in it. */
  final case class Poll(name: String, json: Array[Byte], records: Int)

  private def lineName(i: Int): String =
    if (i % 40 == 39) s"L-${i / 40 + 1}" else (102 + i).toString

  private def r6(x: Double): String = java.lang.Double.toString(math.rint(x * 1e6) / 1e6)

  private def rec(line: String, veh: String, lat: Double, lon: Double, time: String,
      brigade: Int): String =
    s"""{"Lines":"$line","Lon":${r6(lon)},"VehicleNumber":"$veh","Time":"$time","Lat":${r6(lat)},"Brigade":"$brigade"}"""

  /** `polls` consecutive polls of the whole fleet, `stepSec` apart from
    * `startSec` seconds after midnight of [[Day]]. A sentinel poll
    * (`sentinel = true`) moves every vehicle `61 s` past the last real
    * poll with no anomalies: streaming enrichment holds a vehicle's
    * pings until its own clock passes them by 60 s, so the sentinel
    * releases every real ping. */
  final class Fleet(seed: Long) {
    private val rnd = new java.util.SplittableRandom(seed)
    private val fleet = Array.tabulate(Vehicles) { i =>
      val speedKmh = 5.0 + rnd.nextDouble() * 50.0
      val heading = rnd.nextDouble() * 2 * math.Pi
      // degrees per second: 1° lat ≈ 111.2 km, 1° lon ≈ 68.2 km at 52.2°N
      val vLat = speedKmh * math.cos(heading) / 3600.0 / 111.2
      val vLon = speedKmh * math.sin(heading) / 3600.0 / 68.2
      new Vehicle((1000 + i).toString, lineName(rnd.nextInt(Lines)),
        52.1 + rnd.nextDouble() * 0.2, 20.8 + rnd.nextDouble() * 0.4, vLat, vLon)
    }
    private var pollNo = 0

    def next(pollSec: Long, sentinel: Boolean = false): Poll = {
      val sb = new java.lang.StringBuilder(Vehicles * 140)
      sb.append("{\"result\": [")
      var n = 0
      def add(r: String): Unit = { if (n > 0) sb.append(", "); sb.append(r); n += 1 }
      fleet.foreach { v =>
        val u = rnd.nextDouble()
        if (!sentinel && v.last != null && u < Share.Repeat) add(v.last)
        else {
          val t = if (sentinel) pollSec else pollSec - rnd.nextInt(11)
          if (v.tSec >= 0 && t > v.tSec) {
            val dt = (t - v.tSec).toDouble
            v.lat += v.dLat * dt; v.lon += v.dLon * dt
            // bounce inside an inner box: clamping only shortens a step
            if (v.lat < 52.05 || v.lat > 52.35) { v.dLat = -v.dLat; v.lat = math.max(52.05, math.min(52.35, v.lat)) }
            if (v.lon < 20.6 || v.lon > 21.4) { v.dLon = -v.dLon; v.lon = math.max(20.6, math.min(21.4, v.lon)) }
          }
          if (t > v.tSec) v.tSec = t
          val time = Day.atStartOfDay().plusSeconds(v.tSec).format(TimeFmt)
          val brigade = 1 + (v.id.toInt % 9)
          val a = if (sentinel) 1.0 else rnd.nextDouble()
          var s = Share.Bbox
          val r =
            if (a < s) { if (rnd.nextBoolean()) rec(v.line, v.id, 50.06, 19.94, time, brigade)
                         else rec(v.line, v.id, v.lat, 1.23, time, brigade) }
            else if (a < { s += Share.Stale; s }) {
              val stale = if (rnd.nextBoolean()) Day.minusDays(1).atStartOfDay().plusSeconds(v.tSec)
                          else LocalDate.of(2024, 7, 8).atStartOfDay().plusSeconds(v.tSec)
              rec(v.line, v.id, v.lat, v.lon, stale.format(TimeFmt), brigade)
            }
            else if (a < { s += Share.EmptyLine; s }) rec("", v.id, v.lat, v.lon, time, brigade)
            else if (a < { s += Share.PaddedLine; s }) rec(s" ${v.line} ", v.id, v.lat, v.lon, time, brigade)
            else if (a < { s += Share.Glitch; s }) rec(v.line, v.id, v.lat + 0.05, v.lon, time, brigade)
            else rec(v.line, v.id, v.lat, v.lon, time, brigade)
          add(r)
          v.last = r
          if (!sentinel && rnd.nextDouble() < Share.Conflict)
            add(rec(v.line, v.id, v.lat + 0.0003, v.lon - 0.0002, time, brigade))
        }
      }
      sb.append("]}")
      val hh = pollSec / 3600; val mm = (pollSec / 60) % 60; val ss = pollSec % 60
      pollNo += 1
      Poll(f"WAW_${Day.toString.replace("-", "")}_$hh%02d$mm%02d$ss%02d_$pollNo%04d.json",
        sb.toString.getBytes(StandardCharsets.UTF_8), n)
    }
  }

  /** The ingester's partition directory for [[Day]] under `root`. */
  def dayDir(root: Path): Path =
    root.resolve(f"WAW/year=${Day.getYear}/month=${Day.getMonthValue}%02d/day=${Day.getDayOfMonth}%02d")

  // ------------------------------------------------------------------
  // Corpus (FIXTURES.md §6 documents / embeddings schemas)
  // ------------------------------------------------------------------

  /** Source tag of arriving documents: BandIndex.persist indexes every
    * document whose source differs from it (Dedup.IncBatchSrc). */
  val ArrivingSrc = graft.ops.Dedup.IncBatchSrc
  val Dims = graft.ops.Similarity.Dims
  val Clusters = graft.ops.Similarity.IvfCentroids

  /** Zipf(s = 1.1) sampler over a pseudo-word vocabulary. */
  final class Vocab(size: Int, rnd: java.util.SplittableRandom) {
    private val syll = Array("ka", "lo", "mi", "ne", "ru", "sa", "to", "vi", "ze", "po",
      "da", "fi", "gu", "he", "jo", "ly", "wa", "xe", "bo", "cu")
    val words: Array[String] = {
      val seen = scala.collection.mutable.LinkedHashSet.empty[String]
      while (seen.size < size) {
        val n = 2 + rnd.nextInt(3)
        seen += (0 until n).map(_ => syll(rnd.nextInt(syll.length))).mkString
      }
      seen.toArray
    }
    private val cdf: Array[Double] = {
      val w = Array.tabulate(size)(r => 1.0 / math.pow(r + 1, 1.1))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot)
    }
    def draw(r: java.util.SplittableRandom): String = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      words(math.min(size - 1, if (i >= 0) i else -i - 1))
    }
  }

  final case class Corpus(dir: String, baseDocs: Int, arrivingDocs: Int,
      baseVecs: Int, arrivingVecs: Int, inputBytes: Long,
      lexQueries: IndexedSeq[Seq[(Int, String)]],
      vecQueries: IndexedSeq[Seq[(Long, Array[Float])]],
      bandQueries: IndexedSeq[Seq[Long]]) {
    /** Arriving doc ids: [baseDocs, baseDocs + arrivingDocs). */
    def arrivingDoc(i: Int): Long = baseDocs.toLong + i
    /** Arriving vector ids: [baseVecs, baseVecs + arrivingVecs). */
    def arrivingVec(i: Int): Long = baseVecs.toLong + i
  }

  /** Seed of what stays the same from run to run: the vocabulary, the
    * embedding cluster centres and the probe query sequence. */
  val QuerySeed = 20260223L

  /** Documents: zipfian text over a fixed vocabulary, about 10%
    * near-duplicates (one or two tokens changed from an earlier
    * document) in both the base corpus and the arriving stream.
    * Embeddings: unit vectors around [[Clusters]] fixed centres, one per
    * cluster among the first [[Clusters]] ids (VecIndex takes its IVF
    * centroids from them). Probe batches: `batches` batches per family,
    * drawn from [[QuerySeed]], so every run serves the same queries. */
  def corpus(spark: SparkSession, dir: String, seed: Long, baseDocs: Int, arrivingDocs: Int,
      baseVecs: Int, arrivingVecs: Int, batches: Int, lexBatch: Int, vecBatch: Int,
      bandBatch: Int): Corpus = {
    val fixed = new java.util.SplittableRandom(QuerySeed)
    val vocab = new Vocab(4000, fixed)
    val centres = Array.fill(Clusters)(unit(Array.fill(Dims)(fixed.nextGaussian().toFloat)))
    val rnd = new java.util.SplittableRandom(seed ^ 0x5eedL)
    val nDocs = baseDocs + arrivingDocs
    val texts = new Array[String](nDocs)
    (0 until nDocs).foreach { i =>
      texts(i) =
        if (i > 50 && rnd.nextDouble() < 0.10) {
          val toks = texts(rnd.nextInt(i)).split(' ')
          (0 until 1 + rnd.nextInt(2)).foreach(_ => toks(rnd.nextInt(toks.length)) = vocab.draw(rnd))
          toks.mkString(" ")
        } else Array.fill(20 + rnd.nextInt(41))(vocab.draw(rnd)).mkString(" ")
    }
    val docRows = (0 until nDocs).map { i =>
      val src = if (i < baseDocs) s"src${1 + i % 15}" else ArrivingSrc
      org.apache.spark.sql.Row(i.toLong, texts(i), "en", src, texts(i).length.toLong)
    }
    val docSchema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    writeParquet(spark, docRows, docSchema, s"$dir/documents.parquet")

    def vec(c: Int, r: java.util.SplittableRandom = rnd): Array[Float] =
      unit(Array.tabulate(Dims)(d => centres(c)(d) + 0.35f * r.nextGaussian().toFloat))
    val nVecs = baseVecs + arrivingVecs
    val vecRows = (0 until nVecs).map { i =>
      val c = if (i < Clusters) i else rnd.nextInt(Clusters)
      org.apache.spark.sql.Row(i.toLong, vec(c).toSeq, c)
    }
    val embSchema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false)),
      StructField("label", IntegerType)))
    writeParquet(spark, vecRows, embSchema, s"$dir/embeddings.parquet")

    val lexQ = (0 until batches).map { b =>
      (0 until lexBatch).flatMap { q =>
        Seq.fill(3)(vocab.draw(fixed)).distinct.map(t => (b * lexBatch + q, t))
      }
    }
    val vecQ = (0 until batches).map { b =>
      (0 until vecBatch).map(q => (10000000L + b * vecBatch + q, vec(fixed.nextInt(Clusters), fixed)))
    }
    val bandQ = (0 until batches).map { _ =>
      Seq.fill(bandBatch)(baseDocs.toLong + fixed.nextInt(arrivingDocs)).distinct
    }
    Corpus(dir, baseDocs, arrivingDocs, baseVecs, arrivingVecs,
      Util.dirBytes(java.nio.file.Paths.get(dir)), lexQ, vecQ, bandQ)
  }

  private def unit(v: Array[Float]): Array[Float] = {
    val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
    v.map(_ / n)
  }

  private def writeParquet(spark: SparkSession, rows: Seq[org.apache.spark.sql.Row],
      schema: StructType, path: String): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
      .write.mode("overwrite").parquet(path)

  def lexFrame(spark: SparkSession, q: Seq[(Int, String)]): DataFrame = {
    import spark.implicits._
    q.toDF("query_id", "term")
  }

  def vecFrame(spark: SparkSession, q: Seq[(Long, Array[Float])]): DataFrame = {
    import spark.implicits._
    q.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding")
  }

  def idFrame(spark: SparkSession, ids: Seq[Long]): DataFrame = {
    import spark.implicits._
    ids.toDF("doc_id")
  }
}
