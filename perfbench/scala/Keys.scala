package perfbench

/** Seeded pure functions of an index: the key mix of `drain_keyed` and
  * the text of the generated gate tables. */
object Keys {
  /** SplitMix64 finaliser: a well-mixed 64-bit hash of (seed, i). */
  def mix(seed: Long, i: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + i * 0xBF58476D1CE4E5B9L + 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Uniform in [0, 1). */
  def unit(seed: Long, i: Long): Double = (mix(seed, i) >>> 11) * (1.0 / (1L << 53))

  def uniform(seed: Long, i: Long, n: Long): Long = java.lang.Long.remainderUnsigned(mix(seed, i), n)

  /** Zipf-like (log-uniform) key in [0, n): P(k) is proportional to 1/(k+1). */
  def zipf(seed: Long, i: Long, n: Long): Long =
    math.min(n - 1, math.exp(unit(seed, i) * math.log(n.toDouble + 1)).toLong - 1)
}
