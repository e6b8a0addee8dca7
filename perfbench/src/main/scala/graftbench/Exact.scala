package graftbench

/** Driver-side brute force the checks compare against. The distance
  * arithmetic mirrors the kernels': float inputs, double accumulation
  * in index order.
  */
object Exact {
  def l2(a: Array[Float], b: Array[Float]): Double = {
    var acc = 0.0; var i = 0
    while (i < a.length) { val d = a(i).toDouble - b(i); acc += d * d; i += 1 }
    math.sqrt(acc)
  }

  def l1(a: Array[Float], b: Array[Float]): Double = {
    var acc = 0.0; var i = 0
    while (i < a.length) { acc += math.abs(a(i).toDouble - b(i)); i += 1 }
    acc
  }

  def dot(a: Array[Float], b: Array[Float]): Double = {
    var acc = 0.0; var i = 0
    while (i < a.length) { acc += a(i).toDouble * b(i); i += 1 }
    acc
  }

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      val x = a(i).toDouble; val y = b(i).toDouble
      d += x * y; na += x * x; nb += y * y; i += 1
    }
    d / (math.sqrt(na) * math.sqrt(nb))
  }

  def round4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Exact top-k: (id, score) best first, ties on ascending id, over
    * the ids `ids` passes. `lowerIsBetter` for distances.
    */
  def topK(ids: Array[Long], vecs: Array[Array[Float]], k: Int,
           score: Array[Float] => Double, lowerIsBetter: Boolean,
           pass: Int => Boolean = _ => true): IndexedSeq[(Long, Double)] = {
    val keyed = new scala.collection.mutable.ArrayBuffer[(Double, Long)]()
    var i = 0
    while (i < ids.length) {
      if (pass(i)) {
        val s = score(vecs(i))
        keyed += ((if (lowerIsBetter) s else -s, ids(i)))
      }
      i += 1
    }
    keyed.sortWith((x, y) => x._1 < y._1 || (x._1 == y._1 && x._2 < y._2))
      .take(k).map { case (key, id) => (id, if (lowerIsBetter) key else -key) }
      .toIndexedSeq
  }

  /** Run `f` over `xs` on `threads` threads. */
  def par[A, B](xs: Seq[A], threads: Int)(f: A => B): Seq[B] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val fs = xs.map(x => pool.submit(new java.util.concurrent.Callable[B] {
        def call(): B = f(x)
      }))
      fs.map(_.get())
    } finally pool.shutdown()
  }

  /** Does a returned ranking match the exact one? Ranks agree on score
    * within rounding, and each returned id's own exact score equals the
    * score reported for it (so ties may come back in either order).
    */
  def sameRanking(got: Seq[(Long, Double)], want: Seq[(Long, Double)],
                  exactScoreOf: Long => Option[Double]): Boolean =
    got.size == want.size &&
      got.map(_._1).distinct.size == got.size &&
      got.zip(want).forall { case ((gid, gs), (_, ws)) =>
        math.abs(gs - ws) <= 1.5e-4 &&
          exactScoreOf(gid).exists(e => math.abs(e - gs) <= 1.5e-4)
      }
}
