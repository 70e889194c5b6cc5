package graft.dsp

/** Vector kernels shared by the IVF cell expressions
  * (`Bridge.ivfCell`/`ivfCellF`) and the driver-side k-means fit, so
  * the query-time assignment and the fit's assignment are one loop.
  */
object Vec {

  /** argmax_i ⟨x, cents(i)⟩, each dot summed in ascending index order
    * over x's length. Ties go to the earliest i. `Double.compare` is a
    * total order, so a NaN dot (a non-finite embedding) ranks greatest
    * instead of being skipped.
    */
  def argmaxDot(x: Array[Double], cents: Array[Array[Double]]): Int = {
    var best = 0; var bestD = Double.NegativeInfinity
    var i = 0
    while (i < cents.length) {
      val c = cents(i)
      var s = 0.0; var j = 0
      while (j < x.length) { s += x(j) * c(j); j += 1 }
      if (java.lang.Double.compare(s, bestD) > 0) { bestD = s; best = i }
      i += 1
    }
    best
  }
}
