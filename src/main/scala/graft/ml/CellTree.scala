package graft.ml

import scala.collection.mutable
import scala.collection.immutable.ArraySeq

import org.apache.spark.ml.tree.{LeafNode, Node, Split}
import org.apache.spark.ml.tree.impl.GraftTreeBridge

/** Training rows reduced to one cell per distinct key, each carrying
  * `(count, Σy, Σy²)`: the layout of MLlib's `VarianceAggregator`
  * stats, which is all a variance-impurity tree needs from its rows.
  * A key is a row's raw feature values (as bits, so 0.0 and -0.0 stay
  * apart) or, on the driver, the bin tuple they fall in, which merges
  * raw cells and so never needs more of them. Adding a cell past `limit`
  * sets `overflow` and drops the table, so a table never holds more than
  * `limit` cells. */
private[graft] final class Cells[K](val limit: Int) extends Serializable {
  private var table = mutable.HashMap.empty[K, Array[Double]]

  def overflow: Boolean = table == null

  def size: Int = table.size

  def add(key: K, n: Double, sum: Double, sumSq: Double): Unit =
    if (table != null) {
      val s = table.getOrElse(key, null)
      if (s != null) { s(0) += n; s(1) += sum; s(2) += sumSq }
      else if (table.size < limit) {
        val t = new Array[Double](3)
        t(0) = n; t(1) = sum; t(2) = sumSq
        table(key) = t
      } else table = null
    }

  def merge(other: Cells[K]): Cells[K] = {
    if (other.overflow) table = null
    else other.table.foreachEntry((k, s) => add(k, s(0), s(1), s(2)))
    this
  }

  def foreach(f: (K, Array[Double]) => Unit): Unit = table.foreachEntry(f)
}

private[graft] object Cells {

  /** The heap a table may take: 16 MB, in each aggregating task and
    * once more on the driver. MLlib's own fit lets each task take 256 MB
    * (`maxMemoryInMB`) for one level's split statistics. */
  val Budget: Long = 16L << 20

  /** The most cells a table over `numFeatures` features, keyed by
    * their raw values (8 B a feature), holds within [[Budget]]: 116,508
    * cells at one feature, 17,924 at 100. A cell takes 136 B plus its
    * key's elements, with compressed references: the map entry (32 B),
    * the key wrapper (16 B), the key array's header (16 B, and padding
    * to 8 B), the stats (40 B), and its share of the slot array and of
    * the one a resize replaced (up to 16 B together), rounded up. */
  def limit(numFeatures: Int): Int = (Budget / (136L + 8L * numFeatures)).toInt
}

/** Grows, on the driver, the tree MLlib's `RandomForest` grows for a
  * single variance-impurity regressor, from the [[Cells]] of its rows
  * keyed by bin tuple (its raw cells binned with MLlib's splits) instead
  * of one pass over the rows per level. Each node's split
  * depends only on the cells that reach it, so nodes are grown depth
  * first over one index array, partitioned in place per split; the
  * result is the level-wise tree. The split choice mirrors
  * `RandomForest.binsToBestSplit` and `calculateImpurityStats`:
  *  - continuous features: prefix sums over bins, right = total − left;
  *  - categorical features (always ordered for regression): categories
  *    sorted by mean label, empty ones last, then as continuous;
  *  - a split is valid when both sides hold a row and its gain is not
  *    negative (`minInstancesPerNode` 1, `minWeightFractionPerNode` 0,
  *    `minInfoGain` 0, the estimator's defaults);
  *  - ties keep the first maximum, in feature order then split order,
  *    under the total order MLlib's `maxBy` uses;
  *  - the root's stats are the first candidate's left + right, a
  *    child's are its side of the parent's split;
  *  - a node is a leaf at `maxDepth`, at gain ≤ 0, or, for a child, at
  *    impurity below `Epsilon`; sibling leaves with equal predictions
  *    are pruned into their parent, as `LearningNode.toNode` does. */
private[ml] object CellTree {

  def grow(cells: Cells[ArraySeq.ofInt], splits: Array[Array[Split]], arity: Array[Int], maxDepth: Int): Node = {
    val nf = arity.length
    val bins = new Array[Int](cells.size * nf)
    val stats = new Array[Double](cells.size * 3)
    var c = 0
    cells.foreach { (key, s) =>
      System.arraycopy(key.unsafeArray, 0, bins, c * nf, nf)
      System.arraycopy(s, 0, stats, 3 * c, 3)
      c += 1
    }
    new Grower(bins, stats, splits, arity, maxDepth).node(0, cells.size, 0, null)
  }

  /** VarianceCalculator's `calculate` and `predict` over (count, Σy, Σy²). */
  private def variance(s: Array[Double]): Double =
    if (s(0) == 0) 0.0 else (s(2) - s(1) * s(1) / s(0)) / s(0)

  private def predict(s: Array[Double]): Double = if (s(0) == 0) 0.0 else s(1) / s(0)

  private def leaf(s: Array[Double]): Node = GraftTreeBridge.leaf(predict(s), variance(s), s)

  /** `cellBins` holds each cell's bin tuple and `cellStats` its
    * (count, Σy, Σy²), cell after cell. */
  private final class Grower(cellBins: Array[Int], cellStats: Array[Double],
                             splits: Array[Array[Split]], arity: Array[Int], maxDepth: Int) {
    private val nf = arity.length
    private val numBins = Array.tabulate(nf)(f => if (arity(f) > 0) arity(f) else splits(f).length + 1)
    private val numSplits = Array.tabulate(nf)(f => numBins(f) - 1)
    private val offset = numBins.scanLeft(0)(_ + _)
    private val order = Array.range(0, cellStats.length / 3)
    private val scratch = new Array[Int](order.length)

    /** The subtree over the cells `order(from until until)`; `stats` is
      * the node's (count, Σy, Σy²) from its parent's split, null at the
      * root. */
    def node(from: Int, until: Int, level: Int, stats: Array[Double]): Node = {
      val agg = new Array[Double](3 * offset(nf))
      val total = new Array[Double](3)
      var i = from
      while (i < until) {
        val c = order(i)
        var f = 0
        while (f < nf) {
          addCell(agg, 3 * (offset(f) + cellBins(c * nf + f)), c)
          f += 1
        }
        addCell(total, 0, c)
        i += 1
      }

      var parent = stats
      var impurity = if (stats == null) Double.NaN else variance(stats)
      var bestGain = Double.NegativeInfinity
      var bestFeature = -1
      var bestSplit = -1
      var bestOrder: Array[Int] = null
      var bestLeft: Array[Double] = null
      var bestRight: Array[Double] = null
      var f = 0
      while (f < nf) {
        val ns = numSplits(f)
        if (ns > 0) {
          // the bins of f in split order: by index, or by mean label
          val binOrder =
            if (arity(f) == 0) Array.range(0, numBins(f))
            else List.range(0, numBins(f)).sortBy { b =>
              val o = 3 * (offset(f) + b)
              if (agg(o) != 0) agg(o + 1) / agg(o) else Double.MaxValue
            }(Ordering.Double.TotalOrdering).toArray
          val at = (k: Int) => 3 * (offset(f) + binOrder(k))
          var s = 0
          while (s < ns) {
            val (dst, src) = (at(s + 1), at(s))
            agg(dst) += agg(src); agg(dst + 1) += agg(src + 1); agg(dst + 2) += agg(src + 2)
            s += 1
          }
          s = 0
          while (s < ns) {
            val left = java.util.Arrays.copyOfRange(agg, at(s), at(s) + 3)
            val right = java.util.Arrays.copyOfRange(agg, at(ns), at(ns) + 3)
            right(0) -= left(0); right(1) -= left(1); right(2) -= left(2)
            if (parent == null) {
              parent = Array(left(0) + right(0), left(1) + right(1), left(2) + right(2))
              impurity = variance(parent)
            }
            val gain = gainOf(impurity, left, right)
            if (java.lang.Double.compare(gain, bestGain) > 0) {
              bestGain = gain; bestFeature = f; bestSplit = s; bestOrder = binOrder
              bestLeft = left; bestRight = right
            }
            s += 1
          }
        }
        f += 1
      }

      if (bestFeature < 0) GraftTreeBridge.leaf(predict(total), -1.0, total)
      else if (bestGain <= 0 || level == maxDepth)
        GraftTreeBridge.leaf(predict(parent), if (bestGain == Invalid) -1.0 else impurity, parent)
      else {
        val cat = arity(bestFeature) > 0
        val goesLeft = new Array[Boolean](numBins(bestFeature))
        if (cat) bestOrder.take(bestSplit + 1).foreach(goesLeft(_) = true)
        else java.util.Arrays.fill(goesLeft, 0, bestSplit + 1, true)
        val split =
          if (cat) GraftTreeBridge.categoricalSplit(bestFeature,
            bestOrder.take(bestSplit + 1).map(_.toDouble), arity(bestFeature))
          else splits(bestFeature)(bestSplit)
        val mid = partition(from, until, c => goesLeft(cellBins(c * nf + bestFeature)))
        def child(lo: Int, hi: Int, s: Array[Double]): Node =
          if (level + 1 == maxDepth || math.abs(variance(s)) < GraftTreeBridge.Epsilon) leaf(s)
          else node(lo, hi, level + 1, s)
        (child(from, mid, bestLeft), child(mid, until, bestRight)) match {
          case (l: LeafNode, r: LeafNode) if l.prediction == r.prediction =>
            GraftTreeBridge.leaf(l.prediction, impurity, parent)
          case (l, r) =>
            GraftTreeBridge.internal(predict(parent), impurity, bestGain, l, r, split, parent)
        }
      }
    }

    private def addCell(agg: Array[Double], o: Int, c: Int): Unit = {
      agg(o) += cellStats(3 * c)
      agg(o + 1) += cellStats(3 * c + 1)
      agg(o + 2) += cellStats(3 * c + 2)
    }

    /** Stable partition of `order(from until until)`: cells going left
      * first. Returns the first right position. */
    private def partition(from: Int, until: Int, left: Int => Boolean): Int = {
      var l = from
      var r = 0
      var i = from
      while (i < until) {
        val c = order(i)
        if (left(c)) { order(l) = c; l += 1 } else { scratch(r) = c; r += 1 }
        i += 1
      }
      System.arraycopy(scratch, 0, order, l, r)
      l
    }
  }

  /** `ImpurityStats.getInvalidImpurityStats`'s gain. */
  private val Invalid = Double.MinValue

  /** `calculateImpurityStats`'s gain, `Invalid` when a side holds no
    * row or the gain is negative. */
  private def gainOf(impurity: Double, left: Array[Double], right: Array[Double]): Double =
    if (left(0) < 1 || right(0) < 1) Invalid
    else {
      val total = left(0) + right(0)
      val gain = impurity - left(0) / total * variance(left) - right(0) / total * variance(right)
      if (gain < 0) Invalid else gain
    }
}
