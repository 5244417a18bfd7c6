package userbench

import scala.collection.mutable.ArrayBuffer

/** TSBS cpu-only-like series: `hosts` hosts, each with three tags and
  * five double fields, sampled every 10 s from [[Data.T0Ms]].
  *
  * Every value is a pure function of (seed, host, sample index, write
  * version, field), so the model keeps only which version of each key is
  * live and the reference results are recomputed from that. A host skips
  * whole 5-minute blocks (about one in sixteen), so RANGE ... FILL LINEAR
  * has real gaps to fill. */
final class Data(val seed: Long, val hosts: Int) {
  import Data._

  /** live version per (host, sample index); -1 = no row */
  private val live = Array.fill(hosts)(new ArrayBuffer[Int]())

  def exists(h: Int, idx: Int): Boolean =
    (mix(seed, h.toLong, (idx / BlockPoints).toLong, 0x6a9L) & 15L) != 0L

  def value(h: Int, idx: Int, ver: Int, f: Int): Double =
    ((mix(seed, h.toLong, idx.toLong, ver.toLong * 8 + f) >>> 11) % 10000L) / 100.0

  def version(h: Int, idx: Int): Int =
    if (idx < live(h).length) live(h)(idx) else -1

  /** Records an acknowledged write. */
  def write(h: Int, idx: Int, ver: Int): Unit = {
    val b = live(h)
    while (b.length <= idx) b += -1
    b(idx) = ver
  }

  /** Live rows of host `h` with sample index in [from, until). */
  def rows(h: Int, from: Int = 0, until: Int = Int.MaxValue): Iterator[(Int, Int)] = {
    val b = live(h)
    (math.max(0, from) until math.min(until, b.length)).iterator
      .filter(i => b(i) >= 0).map(i => (i, b(i)))
  }

  def liveRows: Long = (0 until hosts).map(h => rows(h).size.toLong).sum

  /** One line-protocol line for the given key and version. */
  def line(h: Int, idx: Int, ver: Int): String = {
    val sb = new java.lang.StringBuilder(160)
    sb.append("cpu,datacenter=").append(datacenter(h))
      .append(",hostname=").append(hostname(h))
      .append(",region=").append(region(h)).append(' ')
    var f = 0
    while (f < Fields.length) {
      if (f > 0) sb.append(',')
      sb.append(Fields(f)).append('=').append(value(h, idx, ver, f))
      f += 1
    }
    sb.append(' ').append(tsMs(idx) * 1000000L).toString
  }
}

object Data {
  val Fields: Vector[String] =
    Vector("usage_user", "usage_system", "usage_idle", "usage_nice", "usage_iowait")
  val Regions: Vector[String] = Vector("us-east-1", "us-west-2", "eu-west-1", "ap-south-1")
  /** 2024-01-01T00:00:00Z */
  val T0Ms = 1704067200000L
  val IntervalMs = 10000L
  val MinuteMs = 60000L
  val HourMs = 3600000L
  /** 5 minutes of samples */
  val BlockPoints = 30

  def tsMs(idx: Int): Long = T0Ms + idx * IntervalMs
  def hostname(h: Int): String = s"host_$h"
  def region(h: Int): String = Regions(h % Regions.size)
  def datacenter(h: Int): String = region(h) + ('a' + (h / Regions.size) % 3).toChar

  /** SplitMix64-style finalizer over a few words. */
  def mix(a: Long, b: Long, c: Long, d: Long): Long = {
    def fin(z0: Long): Long = {
      var z = z0
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    fin(fin(fin(fin(a + 0x9e3779b97f4a7c15L) ^ b) ^ c) ^ d)
  }

  /** SQL timestamp literal for an epoch-ms instant (UTC session). */
  def lit(ms: Long): String =
    "'" + java.time.Instant.ofEpochMilli(ms).toString
      .replace('T', ' ').stripSuffix("Z") + "'"
}
