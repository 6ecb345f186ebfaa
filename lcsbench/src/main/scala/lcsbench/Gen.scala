package lcsbench

import java.util.SplittableRandom

/** Seeded input generators. Every input the engine sees comes from
  * here, as a pure function of (seed, stream, index): the same seed
  * gives the same inputs in every run and on every commit. */
object Gen {

  def rng(seed: Long, stream: Long, index: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream * 0xBF58476D1CE4E5B9L + index)

  /** `n` distinct lowercase words of 3 to 8 letters, none a stopword. */
  def vocabulary(seed: Long, stream: Long, n: Int): Array[String] = {
    val r = rng(seed, stream, 0)
    val out = scala.collection.mutable.LinkedHashSet.empty[String]
    while (out.size < n) {
      val len = 3 + r.nextInt(6)
      val w = new String(Array.fill(len)(('a' + r.nextInt(26)).toChar))
      if (!Stopwords.contains(w)) out += w
    }
    out.toArray
  }

  /** English stopwords the engine's quality score counts. */
  val Stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is", "that")

  /** Zipf-like index in [0, n): small indexes are much more frequent. */
  def zipf(r: SplittableRandom, n: Int): Int =
    math.min(n - 1, (math.pow(n.toDouble + 1, r.nextDouble()) - 1).toInt)

  // ------------------------------------------------------------------
  // lifecycle: air-quality readings and orders, one batch per day

  /** The readings follow the paper's `aq_fields` table: an int32 station
    * id (`fmisid`), an hourly timestamp and eight float64 hourly-average
    * pollutant columns, one row per station per hour. The orders follow
    * its `order_id -> amount` records. The station count, the orders per
    * day and the value ranges are assumed (see the README). */
  object Life {
    val Stations = 125
    val HoursPerDay = 24
    val ReadingsPerDay: Int = Stations * HoursPerDay
    val OrdersPerDay = 600
    val DayBase = 1704067200L // 2024-01-01T00:00:00Z
    /** The eight float64 columns of `aq_fields`, in its order. */
    val Pollutants: Seq[String] = Seq("AQINDEX_PT1H_avg", "PM10_PT1H_avg", "PM25_PT1H_avg",
      "O3_PT1H_avg", "CO_PT1H_avg", "SO2_PT1H_avg", "NO2_PT1H_avg", "TRSC_PT1H_avg")
    val Pm25: String = Pollutants(2)
    /** Station groups the day's report aggregates over. */
    val Groups = 8

    /** One station-hour; `values` line up with [[Pollutants]]. */
    final case class Reading(station: Int, ts: Long, values: Array[Double]) {
      def pm25: Double = values(2)
      /** (fmisid, time) is the table's natural key; as one number. */
      def id: Long = key(station, ts)
    }
    final case class Order(id: Long, amount: Double)
    /** Inclusive box over the clustering columns. */
    final case class Box(stLo: Int, stHi: Int, pmLo: Double, pmHi: Double) {
      def contains(x: Reading): Boolean =
        x.station >= stLo && x.station <= stHi && x.pm25 >= pmLo && x.pm25 <= pmHi
    }

    def key(station: Int, ts: Long): Long = ts * 1000L + station

    def groupOf(station: Int): Int = station % Groups

    def readings(seed: Long, day: Int): Array[Reading] = {
      val r = rng(seed, 1, day)
      Array.tabulate(ReadingsPerDay) { i =>
        val (st, h) = (i / HoursPerDay, i % HoursPerDay)
        // pm2.5 in tenths: a per-station level, noise and rare episodes
        val base = 80 + (st * 37 % 40) * 10
        val spike = if (r.nextInt(20) == 0) r.nextInt(1500) else 0
        val pm25 = math.min(3000, base + r.nextInt(200) + spike) / 10.0
        val pm10 = pm25 + r.nextInt(400) / 10.0
        val values = Array(1 + r.nextInt(5), pm10, pm25, r.nextInt(1500) / 10.0,
          r.nextInt(5000) / 10.0, r.nextInt(200) / 10.0, r.nextInt(800) / 10.0,
          r.nextInt(100) / 10.0).map(_.toDouble)
        Reading(st, DayBase + day * 86400L + h * 3600L, values)
      }
    }

    def orders(seed: Long, day: Int): Array[Order] = {
      val r = rng(seed, 2, day)
      Array.tabulate(OrdersPerDay)(i =>
        Order(day * 1000000L + i, (100 + r.nextInt(50000)) / 100.0))
    }

    /** The `j`-th box read after day `day`: a station range and a pm2.5
      * band, the "pollution episodes near these stations" query. */
    def box(seed: Long, day: Int, j: Int): Box = {
      val r = rng(seed, 3, day * 64L + j)
      val stLo = r.nextInt(Stations - 24)
      val pmLo = 8.0 + r.nextInt(40)
      Box(stLo, stLo + 8 + r.nextInt(16), pmLo, pmLo + 5.0 + r.nextInt(25))
    }

    def readingsJson(rs: Iterator[Reading]): String =
      rs.map(x => s"""{"fmisid":${x.station},"time":${x.ts},""" +
        Pollutants.zip(x.values).map { case (n, v) => s""""$n":$v""" }.mkString(",") + "}")
        .mkString("[", ",", "]")

    def ordersJson(os: Iterator[Order]): String =
      os.map(o => s"""{"order_id":${o.id},"amount":${o.amount}}""").mkString("[", ",", "]")
  }

  // ------------------------------------------------------------------
  // serve: embedded documents, hybrid queries, curated ingest batches

  object Srv {
    val Dim = 32
    val Centers = 48
    val VocabSize = 3000
    val CorpusItems = 4000
    val BatchDocs = 200
    /** Planted per batch, in documents. */
    val JunkPerBatch = 10
    val ExactPerBatch = 12 // half copies of corpus docs, half in-batch copies
    val NearPerBatch = 10
    val QueryBase = 1000000000L

    final case class Item(id: Long, vec: Array[Float], text: String)
    final case class Batch(items: Array[Item], junk: Set[Long], exact: Set[Long],
        near: Map[Long, Long])
    final case class Query(id: Long, vec: Array[Float], phrase: Seq[String])

    final class Source(seed: Long) {
      private val centers: Array[Array[Double]] = {
        val r = rng(seed, 20, 0)
        Array.fill(Centers)(Array.fill(Dim)(r.nextDouble() * 2 - 1))
      }
      val vocab: Array[String] = vocabulary(seed, 21, VocabSize)

      private def vector(r: SplittableRandom): Array[Float] = {
        val c = centers(r.nextInt(Centers))
        Array.tabulate(Dim)(d => (c(d) + gauss(r) * 0.5).toFloat)
      }

      /** 150 to 250 tokens, three in ten of them stopwords: passes the
        * score gates with a wide margin. */
      def clean(r: SplittableRandom): String =
        Array.fill(150 + r.nextInt(100))(
          if (r.nextInt(10) < 3) Stopwords(r.nextInt(Stopwords.size))
          else vocab(zipf(r, VocabSize))).mkString(" ")

      /** Fails the gates: symbol soup, or too short to score. */
      def junk(r: SplittableRandom): String =
        if (r.nextBoolean())
          Array.fill(60 + r.nextInt(40))(
            Array.fill(1 + r.nextInt(4))("#$%&*+=@!?0123456789".charAt(r.nextInt(20))).mkString)
            .mkString(" ")
        else Array.fill(4 + r.nextInt(8))(vocab(zipf(r, VocabSize))).mkString(" ")

      /** Same text after normalization: case and whitespace differ. */
      def exactCopy(r: SplittableRandom, text: String): String = {
        val t = text.split(" ")
        val i = r.nextInt(t.length)
        t(i) = t(i).toUpperCase
        "  " + t.mkString(if (r.nextBoolean()) "  " else " ") + "\n"
      }

      /** One token replaced: at 150+ tokens the Jaccard similarity over
        * 3-shingles stays above 0.95. */
      def nearCopy(r: SplittableRandom, text: String): String = {
        val t = text.split(" ")
        val i = r.nextInt(t.length)
        var w = vocab(r.nextInt(VocabSize))
        while (w == t(i)) w = vocab(r.nextInt(VocabSize))
        t(i) = w
        t.mkString(" ")
      }

      private def item(id: Long, text: SplittableRandom => String): Item = {
        val r = rng(seed, 22, id)
        Item(id, vector(r), text(r))
      }

      val corpus: Array[Item] = Array.tabulate(CorpusItems)(i => item(i.toLong, clean))

      /** Distinct corpus indexes, so no two planted copies share a source. */
      private def distinctSources(r: SplittableRandom, n: Int): Array[Int] = {
        val picked = scala.collection.mutable.LinkedHashSet.empty[Int]
        while (picked.size < n) picked += r.nextInt(CorpusItems)
        picked.toArray
      }

      /** Ingest batch `b`: clean documents plus planted junk, exact copies
        * (of corpus documents and of earlier documents in the batch) and
        * near copies of corpus documents, in a seeded order. */
      def batch(b: Int): Batch = {
        val r = rng(seed, 24, b)
        val base = CorpusItems + b.toLong * BatchDocs
        val kinds = new scala.util.Random(r.nextLong()).shuffle(
          Seq.fill(JunkPerBatch)('j') ++ Seq.fill(ExactPerBatch / 2)('x') ++
            Seq.fill(ExactPerBatch / 2)('s') ++ Seq.fill(NearPerBatch)('n') ++
            Seq.fill(BatchDocs - JunkPerBatch - ExactPerBatch - NearPerBatch)('c'))
        val sources = distinctSources(r, ExactPerBatch / 2 + NearPerBatch).iterator
        val cleanSoFar = scala.collection.mutable.ArrayBuffer.empty[Item]
        var junkIds = Set.empty[Long]; var exactIds = Set.empty[Long]
        var nearIds = Map.empty[Long, Long]
        val items = kinds.zipWithIndex.map { case (k, i) =>
          val id = base + i
          val it = k match {
            case 'j' => junkIds += id; item(id, junk)
            case 'x' =>
              exactIds += id
              val src = corpus(sources.next())
              item(id, dr => exactCopy(dr, src.text))
            case 's' =>
              // an in-batch copy of an earlier novel doc (a corpus doc
              // when the batch has none yet)
              exactIds += id
              item(id, dr => exactCopy(dr,
                if (cleanSoFar.isEmpty) corpus(dr.nextInt(CorpusItems)).text
                else cleanSoFar(dr.nextInt(cleanSoFar.size)).text))
            case 'n' =>
              val src = corpus(sources.next())
              nearIds += id -> src.id
              item(id, dr => nearCopy(dr, src.text))
            case _ => item(id, clean)
          }
          if (k == 'c') cleanSoFar += it
          it
        }.toArray
        Batch(items, junkIds, exactIds, nearIds)
      }

      /** Query `q`, issued when `live` items exist: a vector near a random
        * center and the first two-word phrase without a stopword in a
        * random live item. */
      def query(q: Int, live: scala.collection.IndexedSeq[Item]): Query = {
        val r = rng(seed, 23, q)
        val src = live(r.nextInt(live.size)).text.split(" ")
        val from = r.nextInt(src.length / 2)
        val at = (from until src.length - 1).find(i =>
          !Stopwords.contains(src(i)) && !Stopwords.contains(src(i + 1))).getOrElse(from)
        Query(QueryBase + q, vector(r), Seq(src(at), src(at + 1)))
      }
    }

    def gauss(r: SplittableRandom): Double = {
      // Box-Muller; SplittableRandom has no nextGaussian on every JDK
      val u = math.max(r.nextDouble(), 1e-12)
      math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
    }

    def cosine(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
        i += 1
      }
      if (na == 0 || nb == 0) 0.0 else dot / math.sqrt(na * nb)
    }
  }
}
