package graft.bench

/** YCSB key choice shared by the benchmark drivers (`perfbench`). */
object YcsbBench {

  /** YCSB-style zipfian key chooser, θ=0.99, deterministic seed
    * (the reference's zipfian_generator.py:1-100; standard Gray et al.
    * algorithm, public).
    */
  final class Zipf(n: Int, theta: Double = 0.99, seed: Long = 42L) {
    private val rnd = new scala.util.Random(seed)
    private val zetan = (1 to n).map(i => 1.0 / math.pow(i, theta)).sum
    private val alpha = 1.0 / (1.0 - theta)
    private val zeta2 = (1 to 2).map(i => 1.0 / math.pow(i, theta)).sum
    private val eta = (1 - math.pow(2.0 / n, 1 - theta)) / (1 - zeta2 / zetan)
    def next(): Int = {
      val u = rnd.nextDouble()
      val uz = u * zetan
      if (uz < 1.0) 0
      else if (uz < 1.0 + math.pow(0.5, theta)) 1
      else (n * math.pow(eta * u - eta + 1, alpha)).toInt.min(n - 1)
    }
  }
}
