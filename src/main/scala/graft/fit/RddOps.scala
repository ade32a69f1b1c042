package graft.fit

import breeze.linalg.DenseMatrix
import org.apache.spark.ml.linalg.{DenseVector => MlDense, SparseVector => MlSparse, Vector => MlVector}
import org.apache.spark.rdd.RDD
import graft.slope._

/** Spark implementation of `BatchOps`: the data lives as a cached
  * `RDD[(Array[Double], Vector)]` (preprocessed label row, raw feature
  * vector) and every solver touch is ONE `treeAggregate` (depth 2) with a
  * dense driver-bound buffer — Spark's partial+final aggregation form,
  * spill-safe and shuffle-free (SURVEY.md §4.3).
  *
  * Standardization is applied on the fly inside the aggregators
  * ((x−center)/scale with broadcast arrays), so sparse rows are never
  * densified (the reference likewise refuses to center sparse data,
  * R/owl.R:359-360 — callers pass center = 0 then). Gradients use the
  * separable form Xsᵀg = (Σ x·g − center·Σg)/scale, so per-row cost is
  * O(nnz·m) regardless of centering.
  *
  * Active-set subsetting (reference src/utils.h:7-25) is a VIEW: the same
  * cached RDD with an index mask, never a copied dataset — at 100 TB,
  * re-materializing per path step would dwarf the solve itself.
  *
  * Feature-dimension ceiling (measured — PSCALE.json, SCALING.md
  * round 8): a depth-2 reduce ships ~√numPartitions partials of 8·p·m
  * bytes to the driver, so Spark's DEFAULT 1 GiB
  * `spark.driver.maxResultSize` would cap a depth-2 wide fit at
  * p·m ≈ 2×10⁷ BEFORE driver heap matters (the first rehearsal's
  * p = 3.16e7 reduce died on exactly that). [[RddOps.sumAggregate]]
  * removes that knee: buffers whose final depth-2 fan-in would exceed
  * 70 % of the configured bound are instead tree-combined EXECUTOR-side
  * down to one partition, so exactly one buffer crosses to the driver —
  * the ceiling moves to p·m ≈ maxResultSize·0.7/8 ≈ 9×10⁷ doubles at the
  * default, where driver heap and the per-step full-space sort take over
  * (the SURVEY §7 bound). The driver-side sort/prox cost stays
  * comfortable to p = 10⁷ (~3.6 s/iteration).
  */
object RddOps {

  /** One elementwise-add reduce of per-row contributions into a
    * `sz`-length double buffer, with a BOUNDED driver collect.
    *
    * Common case (small buffers): Spark's depth-2 `treeAggregate` —
    * unchanged from the measured hot path. When the final depth-2
    * fan-in (~√partitions partials of `8·sz` bytes) would exceed 70 % of
    * `spark.driver.maxResultSize` (default 1 GiB — it bounds the TOTAL
    * serialized task results of one action), the partials are instead
    * `reduceByKey`-combined executor-side with fan-in 8 per level down
    * to ONE partition, so exactly one buffer crosses to the driver.
    * That moves the wide-fit ceiling from p·m ≈ 2×10⁷ (where the fixed
    * depth-2 reduce measurably died at default config — SCALING.md
    * round 8, knee 1) to p·m ≈ 9×10⁷, where the buffer itself
    * approaches the bound and driver heap is the real limit. Cost of
    * the big-buffer path: one extra shuffle level and a different (but
    * still deterministic-per-partitioning) addend order; the suite's
    * fits never enter it, so oracle-pinned results are unchanged.
    *
    * `maxResultBytesOverride` ≥ 0 substitutes for the session conf
    * (tests force the big-buffer path with a tiny bound); ≤ 0 conf
    * value means unlimited, which keeps depth-2 always.
    */
  private[graft] def sumAggregate[T](
      rdd: RDD[T], sz: Int, seqOp: (Array[Double], T) => Unit,
      maxResultBytesOverride: Long = -1L): Array[Double] = {
    val maxResultBytes =
      if (maxResultBytesOverride >= 0L) maxResultBytesOverride
      else rdd.sparkContext.getConf
        .getSizeAsBytes("spark.driver.maxResultSize", "1g")
    val add = (a: Array[Double], b: Array[Double]) => {
      var i = 0; while (i < sz) { a(i) += b(i); i += 1 }; a
    }
    val p0 = math.max(rdd.getNumPartitions, 1)
    val partialBytes = 8L * sz + 64L
    val budget =
      if (maxResultBytes <= 0L) Long.MaxValue else maxResultBytes / 10L * 7L
    // depth-2 treeAggregate collects ≤ ceil(√P)+2 partials at the driver
    val depth2FanIn = math.min(p0.toLong, math.ceil(math.sqrt(p0)).toLong + 2L)
    if (partialBytes * depth2FanIn <= budget) {
      rdd.treeAggregate(new Array[Double](sz))(
        (buf, row) => { seqOp(buf, row); buf }, add, depth = 2)
    } else {
      var cur = rdd.mapPartitions { it =>
        val buf = new Array[Double](sz)
        it.foreach(seqOp(buf, _))
        Iterator.single(buf)
      }
      var n = p0
      while (n > 1) {
        val next = math.max(1, (n + 7) / 8)
        cur = cur.mapPartitionsWithIndex((i, it) => it.map(a => (i % next, a)))
          .reduceByKey(new org.apache.spark.HashPartitioner(next), add)
          .map(_._2)
        n = next
      }
      cur.reduce(add) // one partition → exactly one buffer to the driver
    }
  }
}

final class RddOps(
    val rows: RDD[(Array[Double], MlVector)],
    val family: Family,
    val intercept: Boolean,
    val nRows: Long,
    val pFeatures: Int,
    val mTargets: Int,
    xCenter: Array[Double], // length pFeatures (zeros when centering off)
    xScale: Array[Double], // length pFeatures (ones when scaling off)
    yCenter: Array[Double], // length mTargets
    val yMeans: Array[Double], // of the preprocessed (pre-centering) labels
    cols: Array[Int], // active column view; full space, 0 = intercept
    passCounter: org.apache.spark.util.LongAccumulator)
  extends BatchOps with Serializable {

  def n: Long = nRows
  def p: Int = cols.length
  def m: Int = mTargets
  def dataPasses: Long = passCounter.value

  private val ic = if (intercept) 1 else 0
  /** Feature-vector positions of this view's feature columns. */
  private val featIdx: Array[Int] = cols.filter(_ >= ic).map(_ - ic)
  private val hasInterceptCol: Boolean = intercept && cols.length > 0 && cols(0) == 0
  private val nFeat = featIdx.length

  /** The intercept column is presented at unit l2 norm (value 1/√n), like
    * every l2-standardized feature. A raw ones column has norm √n, putting a
    * ~n/4 eigenvalue in the Hessian next to the features' ~1/4 → condition
    * number ~n and thousands of FISTA passes (measured: 1037/step on 60k
    * rows). The optimum is identical (bijective rescale of an unpenalized
    * coordinate); `SlopePath` converts the intercept row back once at the
    * end. At cluster scale this is the difference between 30 and 1000 scans
    * per path step.
    */
  private val interceptNorm = math.sqrt(nRows.toDouble)

  /** pos(vectorIndex) = row in this view's feature block, or -1. */
  private val posMap: Array[Int] = {
    val a = Array.fill(pFeatures)(-1)
    var r = 0
    while (r < nFeat) { a(featIdx(r)) = r; r += 1 }
    a
  }

  def subset(newCols: Array[Int]): BatchOps =
    new RddOps(rows, family, intercept, nRows, pFeatures, mTargets,
      xCenter, xScale, yCenter, yMeans, newCols, passCounter)

  /** Driver-side precomputation for a β: scaled coefficients and the
    * centering offset, so executors do O(nnz·m) per row.
    */
  private def planOf(beta: DenseMatrix[Double]): LinPlan = {
    val iOff = if (hasInterceptCol) 1 else 0
    val sb = new Array[Double](nFeat * mTargets)
    val off = new Array[Double](mTargets)
    val b0 = new Array[Double](mTargets)
    var j = 0
    while (j < mTargets) {
      if (hasInterceptCol) b0(j) = beta(0, j) / interceptNorm
      var r = 0
      while (r < nFeat) {
        val v = beta(r + iOff, j) / xScale(featIdx(r))
        sb(r + j * nFeat) = v
        off(j) += v * xCenter(featIdx(r))
        r += 1
      }
      j += 1
    }
    LinPlan(featIdx, posMap, sb, b0, off, yCenter, nFeat, mTargets)
  }

  def lossGrad(beta: DenseMatrix[Double]): (Double, Double, DenseMatrix[Double]) = {
    passCounter.add(1)
    val plan = planOf(beta)
    val fam = family
    // buffer: [primal, dual, t_j (m), A(r,j) (nFeat·m)]
    val sz = 2 + mTargets + nFeat * mTargets
    val agg = RddOps.sumAggregate(rows, sz,
      (buf: Array[Double], row: (Array[Double], MlVector)) => {
        val (y, x) = row
        val lp = plan.linPred(x)
        val ya = plan.centeredY(y)
        // fused triple (one transcendental pass — Family.rowFusedInto is
        // bit-identical to the three row methods); buf slots 0/1 ARE the
        // primal/dual accumulators, so they take the fused adds directly
        val pg = new Array[Double](plan.m)
        fam.rowFusedInto(ya, lp, pg, buf)
        var j = 0
        while (j < plan.m) { buf(2 + j) += pg(j); j += 1 }
        plan.accumulate(x, pg, buf, 2 + plan.m)
      })

    val grad = DenseMatrix.zeros[Double](cols.length, mTargets)
    val iOff = if (hasInterceptCol) 1 else 0
    var j = 0
    while (j < mTargets) {
      val tj = agg(2 + j)
      if (hasInterceptCol) grad(0, j) = tj / interceptNorm
      var r = 0
      while (r < nFeat) {
        val idx = featIdx(r)
        grad(r + iOff, j) = (agg(2 + mTargets + r + j * nFeat) - xCenter(idx) * tj) / xScale(idx)
        r += 1
      }
      j += 1
    }
    (agg(0), agg(1), grad)
  }

  def primal(beta: DenseMatrix[Double]): Double = {
    passCounter.add(1)
    val plan = planOf(beta)
    val fam = family
    rows.treeAggregate(0.0)(
      seqOp = (acc, row) => acc + fam.rowPrimal(plan.centeredY(row._1), plan.linPred(row._2)),
      combOp = _ + _,
      depth = 2)
  }

  def lambdaMaxVec(): Array[Double] = {
    passCounter.add(1)
    val fam = family
    val yM = yMeans
    val pf = pFeatures
    val mT = mTargets
    val t = LambdaMaxTransform(fam, yM, yCenter)
    val xc = xCenter
    val xs = xScale
    // buffer: [t_j sums (m), A(c,j) raw (pf·m)]
    val agg = RddOps.sumAggregate(rows, mT + pf * mT,
      (buf: Array[Double], row: (Array[Double], MlVector)) => {
        val (y, x) = row
        var j = 0
        while (j < mT) {
          val tj = t(y, j)
          buf(j) += tj
          x.foreachActive((idx, v) => buf(mT + idx + j * pf) += v * tj)
          j += 1
        }
      })
    val out = new Array[Double](pf * mT)
    var j = 0
    while (j < mT) {
      var c = 0
      while (c < pf) {
        out(c + j * pf) = math.abs((agg(mT + c + j * pf) - xc(c) * agg(j)) / xs(c))
        c += 1
      }
      j += 1
    }
    out
  }

  def gramXty(): (DenseMatrix[Double], DenseMatrix[Double]) = {
    passCounter.add(1)
    val pl = planOf(DenseMatrix.zeros[Double](cols.length, mTargets)) // for centeredY only
    val k = cols.length
    val iOff = if (hasInterceptCol) 1 else 0
    val fIdx = featIdx
    val nF = nFeat
    val mT = mTargets
    val pMap = posMap
    // raw sums: [Σx_r (nF), Σx_r·x_s (nF²), Σ ya_j (m), Σ x_r·ya_j (nF·m)]
    val sz = nF + nF * nF + mT + nF * mT
    val agg = RddOps.sumAggregate(rows, sz,
      (buf: Array[Double], row: (Array[Double], MlVector)) => {
        val (y, x) = row
        val ya = pl.centeredY(y)
        // gather active (pos, value) pairs of this view
        var cnt = 0
        val tmpPos = new Array[Int](nF)
        val tmpVal = new Array[Double](nF)
        x.foreachActive((idx, v) => {
          val r = pMap(idx)
          if (r >= 0 && v != 0.0) { tmpPos(cnt) = r; tmpVal(cnt) = v; cnt += 1 }
        })
        var a = 0
        while (a < cnt) {
          val ra = tmpPos(a); val va = tmpVal(a)
          buf(ra) += va
          var b = 0
          while (b < cnt) { buf(nF + ra * nF + tmpPos(b)) += va * tmpVal(b); b += 1 }
          var j = 0
          while (j < mT) { buf(nF + nF * nF + mT + ra + j * nF) += va * ya(j); j += 1 }
          a += 1
        }
        var j = 0
        while (j < mT) { buf(nF + nF * nF + j) += ya(j); j += 1 }
      })

    val nD = nRows.toDouble
    val sumX = Array.tabulate(nF)(r => agg(r))
    val gram = DenseMatrix.zeros[Double](k, k)
    val xty = DenseMatrix.zeros[Double](k, mTargets)
    // standardized columns: s_r = (x_r − c_r)/scale_r; intercept col = ones
    if (hasInterceptCol) {
      gram(0, 0) = nD / (interceptNorm * interceptNorm) // = 1
      var r = 0
      while (r < nF) {
        val c = xCenter(fIdx(r)); val s = xScale(fIdx(r))
        val v = (sumX(r) - nD * c) / s / interceptNorm
        gram(0, r + iOff) = v
        gram(r + iOff, 0) = v
        r += 1
      }
      var j = 0
      while (j < mTargets) { xty(0, j) = agg(nF + nF * nF + j) / interceptNorm; j += 1 }
    }
    var r = 0
    while (r < nF) {
      val cr = xCenter(fIdx(r)); val sr = xScale(fIdx(r))
      var s2 = 0
      while (s2 < nF) {
        val cs = xCenter(fIdx(s2)); val ss = xScale(fIdx(s2))
        // Σ (x_r−c_r)(x_s−c_s) = Σ x_r x_s − c_r Σ x_s − c_s Σ x_r + n·c_r·c_s
        val raw = agg(nF + r * nF + s2)
        gram(r + iOff, s2 + iOff) =
          (raw - cr * sumX(s2) - cs * sumX(r) + nD * cr * cs) / (sr * ss)
        s2 += 1
      }
      var j = 0
      while (j < mTargets) {
        val sumYa = agg(nF + nF * nF + j)
        val rawXy = agg(nF + nF * nF + mTargets + r + j * nF)
        xty(r + iOff, j) = (rawXy - cr * sumYa) / sr
        j += 1
      }
      r += 1
    }
    (gram, xty)
  }
}

/** Broadcast-friendly per-row computation plan (driver-precomputed scaled β,
  * centering offsets, and index maps).
  */
final case class LinPlan(
    featIdx: Array[Int],
    posMap: Array[Int],
    scaledBeta: Array[Double], // nFeat×m col-major
    b0: Array[Double],
    off: Array[Double],
    yCenter: Array[Double],
    nFeat: Int,
    m: Int) extends Serializable {

  def linPred(x: MlVector): Array[Double] = {
    val lp = new Array[Double](m)
    var j = 0
    while (j < m) { lp(j) = b0(j) - off(j); j += 1 }
    x.foreachActive((idx, v) => {
      val r = posMap(idx)
      if (r >= 0 && v != 0.0) {
        var j2 = 0
        while (j2 < m) { lp(j2) += scaledBeta(r + j2 * nFeat) * v; j2 += 1 }
      }
    })
    lp
  }

  def centeredY(y: Array[Double]): Array[Double] = {
    if (yCenter.forall(_ == 0.0)) y
    else {
      val out = new Array[Double](m)
      var j = 0
      while (j < m) { out(j) = y(j) - yCenter(j); j += 1 }
      out
    }
  }

  /** A(r,j) += x_r·pg_j for active view columns, into buf at offset. */
  def accumulate(x: MlVector, pg: Array[Double], buf: Array[Double], offset: Int): Unit = {
    x.foreachActive((idx, v) => {
      val r = posMap(idx)
      if (r >= 0 && v != 0.0) {
        var j = 0
        while (j < m) { buf(offset + r + j * nFeat) += v * pg(j); j += 1 }
      }
    })
  }
}
