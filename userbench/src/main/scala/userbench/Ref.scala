package userbench

import scala.collection.mutable

import Data._

/** Expected results, computed in plain Scala from the live rows of the
  * model. Each function mirrors one statement shape of the templates. */
object Ref {
  import Check.Tuple

  /** First sample index at or after epoch-ms `ms`. */
  def idxAt(ms: Long): Int = math.max(0L, math.ceil((ms - T0Ms).toDouble / IntervalMs).toLong).toInt

  private def agg(kind: String, xs: Seq[Double]): Double = kind match {
    case "max" => xs.max
    case "avg" => xs.sum / xs.size
  }

  /** Per host and `bucketMs` bucket in [a, b): `kind` of each field;
    * rows (bucket start, hostname, v...). RANGE r ALIGN r and
    * GROUP BY date_bin(r, ts), hostname share this shape. */
  def bucketed(d: Data, hosts: Seq[Int], fields: Seq[Int], a: Long, b: Long,
      bucketMs: Long, kind: String): Vector[Tuple] =
    hosts.toVector.flatMap { h =>
      d.rows(h, idxAt(a), idxAt(b)).toVector
        .groupBy { case (i, _) => Math.floorDiv(tsMs(i), bucketMs) * bucketMs }
        .toVector.sortBy(_._1).map { case (bucket, rs) =>
          (Vector[Any](bucket, hostname(h)) ++
            fields.map(f => agg(kind, rs.map { case (i, v) => d.value(h, i, v, f) })))
        }
    }

  /** GROUP BY date_bin(bucket, ts) over several hosts together:
    * rows (bucket start, v...). */
  def bucketedAcross(d: Data, hosts: Seq[Int], fields: Seq[Int], a: Long, b: Long,
      bucketMs: Long, kind: String): Vector[Tuple] = {
    val byBucket = mutable.TreeMap.empty[Long, Vector[Seq[Double]]]
    hosts.foreach { h =>
      d.rows(h, idxAt(a), idxAt(b)).foreach { case (i, v) =>
        val k = Math.floorDiv(tsMs(i), bucketMs) * bucketMs
        byBucket(k) = byBucket.getOrElse(k, Vector.empty) :+ fields.map(f => d.value(h, i, v, f))
      }
    }
    byBucket.toVector.map { case (k, vs) =>
      Vector[Any](k) ++ fields.indices.map(j => agg(kind, vs.map(_(j))))
    }
  }

  /** Raw rows (ts, hostname, fields...) of `hosts` in [a, b) that pass
    * usage_user > threshold. */
  def highCpu(d: Data, hosts: Seq[Int], a: Long, b: Long, threshold: Double): Vector[Tuple] =
    hosts.toVector.flatMap { h =>
      d.rows(h, idxAt(a), idxAt(b)).filter { case (i, v) => d.value(h, i, v, 0) > threshold }
        .map { case (i, v) =>
          Vector[Any](tsMs(i), hostname(h)) ++ Fields.indices.map(f => d.value(h, i, v, f)) }
    }

  /** Newest row per host: (hostname, ts, fields...). */
  def lastpoint(d: Data): Vector[Tuple] =
    (0 until d.hosts).toVector.flatMap { h =>
      d.rows(h).toSeq.lastOption.map { case (i, v) =>
        Vector[Any](hostname(h), tsMs(i)) ++ Fields.indices.map(f => d.value(h, i, v, f)) }
    }

  /** Samples of host `h` in the PromQL range (t - rangeMs, t]. */
  private def window(d: Data, h: Int, t: Long, rangeMs: Long): Iterator[(Int, Int)] =
    d.rows(h, idxAt(t - rangeMs + 1), idxAt(t + 1))

  /** TQL `max_over_time(cpu{hostname=h, __field__=f}[range])` at each
    * step of [start, end]: rows (ts, hostname, value). */
  def maxOverTime(d: Data, h: Int, f: Int, start: Long, end: Long, step: Long,
      rangeMs: Long): Vector[Tuple] =
    (start to end by step).toVector.flatMap { t =>
      val xs = window(d, h, t, rangeMs).map { case (i, v) => d.value(h, i, v, f) }.toSeq
      if (xs.isEmpty) None else Some(Vector[Any](t, hostname(h), xs.max))
    }

  /** TQL `sum by (region) (cpu{__field__=f})`: at each step the newest
    * sample of every series within the lookback; rows (ts, region, sum). */
  def sumByRegion(d: Data, f: Int, start: Long, end: Long, step: Long,
      lookbackMs: Long): Vector[Tuple] =
    (start to end by step).toVector.flatMap { t =>
      (0 until d.hosts).flatMap { h =>
        window(d, h, t, lookbackMs).toSeq.lastOption.map { case (i, v) =>
          region(h) -> d.value(h, i, v, f) }
      }.groupBy(_._1).toVector.sortBy(_._1).map { case (r, xs) =>
        Vector[Any](t, r, xs.map(_._2).sum) }
    }

  /** RANGE bucket ALIGN bucket FILL LINEAR of avg(field) in [a, b): per
    * host, buckets between its first and last filled bucket that hold no
    * sample are interpolated linearly; rows (bucket, hostname, value). */
  def fillLinear(d: Data, f: Int, a: Long, b: Long, bucketMs: Long): Vector[Tuple] =
    (0 until d.hosts).toVector.flatMap { h =>
      val present = bucketed(d, Seq(h), Seq(f), a, b, bucketMs, "avg")
        .map(t => t(0).asInstanceOf[Long] -> t(2).asInstanceOf[Double])
      if (present.isEmpty) Vector.empty
      else {
        val known = present.toMap
        val ks = present.map(_._1)
        (ks.head to ks.last by bucketMs).toVector.map { k =>
          val v = known.getOrElse(k, {
            val (pk, pv) = present.filter(_._1 < k).last
            val (nk, nv) = present.find(_._1 > k).get
            pv + (nv - pv) * (k - pk).toDouble / (nk - pk)
          })
          Vector[Any](k, hostname(h), v)
        }
      }
    }

  /** Per-minute max(field) over all hosts for ts < b, newest `n` minutes:
    * rows (minute, value). */
  def groupOrderLimit(d: Data, f: Int, b: Long, n: Int): Vector[Tuple] =
    bucketedAcross(d, 0 until d.hosts, Seq(f), T0Ms, b, MinuteMs, "max")
      .sortBy(t => -t(0).asInstanceOf[Long]).take(n)

  /** Every live row: (hostname, ts, usage_user, usage_system). */
  def fullRead(d: Data): Vector[Tuple] =
    (0 until d.hosts).toVector.flatMap { h =>
      d.rows(h).map { case (i, v) =>
        Vector[Any](hostname(h), tsMs(i), d.value(h, i, v, 0), d.value(h, i, v, 1)) }
    }

  /** The flow sink: max(field) per host over each minute in `minutes`. */
  def perMinuteMax(d: Data, f: Int, minutes: collection.Set[Long]): Vector[Tuple] =
    (0 until d.hosts).toVector.flatMap { h =>
      d.rows(h).filter { case (i, _) => minutes(Math.floorDiv(tsMs(i), MinuteMs) * MinuteMs) }
        .toVector.groupBy { case (i, _) => Math.floorDiv(tsMs(i), MinuteMs) * MinuteMs }
        .toVector.map { case (m, rs) =>
          Vector[Any](hostname(h), m, rs.map { case (i, v) => d.value(h, i, v, f) }.max) }
    }
}
