package graft.perfbench

/** Deterministic input generation: every value is a pure function of the
  * run's seed and a row key, so the same seed gives the same inputs and
  * the benchmark can recompute any row it expects to read back. */
object Gen {
  /** splitmix64 finalizer over two inputs. */
  def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b + 0x632BE59BD9B4E019L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** 4096 pronounceable words of 4 to 8 letters (the same for every seed). */
  val Vocab: Array[String] = {
    val cons = "bcdfghjklmnprstvz"
    val vow = "aeiou"
    Array.tabulate(4096) { i =>
      val h = mix(i.toLong, 7L)
      val syl = 2 + (i % 3)
      (0 until syl).map { s =>
        val x = (h >>> (s * 10)) & 0x3ff
        s"${cons((x % cons.length).toInt)}${vow(((x / cons.length) % vow.length).toInt)}"
      }.mkString
    }
  }

  /** `n` words chosen by (seed, key). */
  def words(seed: Long, key: Long, n: Int): String = {
    val sb = new StringBuilder
    var j = 0
    while (j < n) {
      if (j > 0) sb += ' '
      sb ++= Vocab((mix(mix(seed, key), j.toLong) >>> 52).toInt)
      j += 1
    }
    sb.toString
  }
}

/** keyed_ops row: key, version, an int and about 100 bytes of payload, all
  * a function of (seed, key, version). */
final case class KeyedRow(k: Long, ver: Int, i: Int, payload: String)

object KeyedRow {
  def apply(seed: Long, k: Long, ver: Int): KeyedRow =
    KeyedRow(k, ver, (Gen.mix(seed + ver, k) & 0x7fffffff).toInt,
      Gen.words(seed + 1000003L * ver, k, 15))
  def userBytes(r: KeyedRow): Long = 8 + 4 + 4 + r.payload.length
}
