package graft.ml

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.ml.linalg.SQLDataTypes
import org.apache.spark.ml.tree.{CategoricalSplit, ContinuousSplit, InternalNode, LeafNode, Node}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, GenericInternalRow, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeFormatter, CodeGenerator, CodegenContext, ExprCode,
  FalseLiteral, GraftCodegenBridge}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, DoubleType}
import org.apache.spark.unsafe.Platform

/** Shared shape of the feature expressions: n double children (the
  * feature columns, already cast to double), read once per row. A
  * null child is an absent feature. */
private[ml] trait FeatureChildren extends Expression {

  override def checkInputDataTypes(): TypeCheckResult =
    children.find(_.dataType != DoubleType) match {
      case None => TypeCheckResult.TypeCheckSuccess
      case Some(c) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires double features, got ${c.dataType.simpleString}")
    }
  override def nullable: Boolean = false

  /** Java code evaluating every child: `present(i, value)` for a
    * non-null child i, `absent(i)` for a null one. Split into methods
    * when the feature list is long. */
  protected def genFeatures(ctx: CodegenContext, present: (Int, String) => String,
                            absent: Int => String): String = {
    val parts = children.zipWithIndex.map { case (c, i) =>
      val e = c.genCode(ctx)
      s"""${e.code}
         |if (${e.isNull}) { ${absent(i)} } else { ${present(i, e.value.toString)} }""".stripMargin
    }
    if (ctx.currentVars == null) ctx.splitExpressionsWithCurrentInputs(parts, funcName = "graftFeatures")
    else splitInStage(ctx, parts)
  }

  /** `parts` under whole-stage codegen, where
    * `splitExpressionsWithCurrentInputs` inlines everything because the
    * children read the stage's local variables: a wide feature list
    * would outgrow the JVM's 64 KB method limit. The parts are cut into
    * blocks as `splitExpressions` cuts them, and each block becomes a
    * method taking the local variables its children read. They stay
    * inline, as before, when one block holds them all, when a child
    * reads an input the stage has not evaluated yet, or when a block
    * would need more parameters than a method takes. */
  private def splitInStage(ctx: CodegenContext, parts: Seq[String]): String = {
    val threshold = SQLConf.get.methodSplitThreshold
    val blocks = ArrayBuffer(ArrayBuffer.empty[Int])
    var length = 0
    parts.indices.foreach { i =>
      if (length > threshold) { blocks += ArrayBuffer.empty[Int]; length = 0 }
      blocks.last += i
      length += CodeFormatter.stripExtraNewLinesAndComments(parts(i)).length
    }
    val deferred = children.exists(_.exists {
      case b: BoundReference => ctx.currentVars.lift(b.ordinal).exists(v => v != null && v.code.nonEmpty)
      case _ => false
    })
    lazy val args = blocks.toSeq.map(_.flatMap(i => GraftCodegenBridge.localInputs(ctx, children(i)))
      .distinct.sortBy(_.variableName).toSeq)
    if (blocks.length == 1 || deferred || !args.forall(a =>
        CodeGenerator.isValidParamLength(CodeGenerator.calculateParamLengthFromExprValues(a)))) {
      parts.mkString("\n")
    } else {
      blocks.toSeq.zip(args).map { case (block, a) =>
        val name = ctx.freshName("graftFeatures")
        val params = a.map(v => s"${CodeGenerator.typeName(v.javaType)} ${v.variableName}")
        val fn = ctx.addNewFunction(name,
          s"""private void $name(${params.mkString(", ")}) {
             |${block.map(parts).mkString("\n")}
             |}""".stripMargin)
        s"$fn(${a.map(_.variableName).mkString(", ")});"
      }.mkString("\n")
    }
  }

  /** Interpreted twin of [[genFeatures]]: `present(i, value)` for each
    * non-null child i. */
  protected def foreachFeature(input: InternalRow)(present: (Int, Double) => Unit): Unit = {
    var i = 0
    children.foreach { c =>
      val v = c.eval(input)
      if (v != null) present(i, v.asInstanceOf[Double])
      i += 1
    }
  }
}

/** The features as an ml.linalg sparse vector, written straight into
  * VectorUDT's internal struct `(type = 0, size = n, indices, values)`:
  * slot i holds child i, and a null child leaves its slot out. This
  * is the vector `Vectors.sparse(n, presentIndices, presentValues)`
  * serializes to, built without boxing or a UDF hop. */
case class SparseAssemble(children: Seq[Expression]) extends FeatureChildren {

  override def dataType: DataType = SQLDataTypes.VectorType
  override def prettyName: String = "sparse_assemble"

  override def eval(input: InternalRow): Any = {
    val idx = new Array[Int](children.length)
    val vals = new Array[Double](children.length)
    var k = 0
    foreachFeature(input) { (i, v) => idx(k) = i; vals(k) = v; k += 1 }
    SparseAssembleKernel.row(children.length, idx, vals, k)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val n = children.length
    val idx = ctx.addMutableState("int[]", "assembleIdx", v => s"$v = new int[$n];")
    val vals = ctx.addMutableState("double[]", "assembleVals", v => s"$v = new double[$n];")
    val k = ctx.addMutableState("int", "assembleCount")
    val fill = genFeatures(ctx,
      (i, v) => s"$idx[$k] = $i; $vals[$k] = $v; $k++;", _ => "")
    ev.copy(code = code"""
      |$k = 0;
      |$fill
      |InternalRow ${ev.value} = graft.ml.SparseAssembleKernel.row($n, $idx, $vals, $k);
      """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)
}

object SparseAssembleKernel {
  /** The sparse VectorUDT row of the first `k` entries of `idx`/`vals`. */
  def row(size: Int, idx: Array[Int], vals: Array[Double], k: Int): InternalRow = {
    val r = new GenericInternalRow(4)
    r.setByte(0, 0)
    r.setInt(1, size)
    r.update(2, UnsafeArrayData.fromPrimitiveArray(idx, Platform.INT_ARRAY_OFFSET, k, 4))
    r.update(3, UnsafeArrayData.fromPrimitiveArray(vals, Platform.DOUBLE_ARRAY_OFFSET, k, 8))
    r
  }
}

/** The prediction of a fitted tree for the features, walked over a
  * [[FlatTree]]. A null feature reads as 0.0, which is what MLlib
  * reads for the absent slot [[SparseAssemble]] leaves for it. */
case class TreePredict(children: Seq[Expression], tree: FlatTree) extends FeatureChildren {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "tree_predict"

  override def eval(input: InternalRow): Any = {
    val x = new Array[Double](children.length)
    foreachFeature(input)((i, v) => x(i) = v)
    tree.predict(x)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val x = ctx.addMutableState("double[]", "treeFeatures", v => s"$v = new double[${children.length}];")
    val treeRef = ctx.addReferenceObj("flatTree", tree, classOf[FlatTree].getName)
    val fill = genFeatures(ctx, (i, v) => s"$x[$i] = $v;", i => s"$x[$i] = 0.0;")
    ev.copy(code = code"""
      |$fill
      |double ${ev.value} = $treeRef.predict($x);
      """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)
}

/** A fitted tree as parallel primitive arrays, node 0 the root. An
  * internal node i splits on `feature(i)`; a leaf has feature -1 and
  * predicts `value(i)`.
  *
  * A continuous node goes left when `x <= threshold(i)`. A categorical
  * node (`catOffset(i) >= 0`, `numCats(i) = m`) reads
  * `goLeft(catOffset(i) + c)` for an integral value c in 0..m-1 and
  * `goLeft(catOffset(i) + m)` for anything else, NaN included. That
  * mirrors `CategoricalSplit.shouldGoLeft`: with `isLeft =
  * leftCategories.length <= m / 2` it tests membership in the left set
  * (isLeft) or in its complement in 0..m-1 (not isLeft), so an
  * out-of-range value goes left exactly when isLeft is false. */
final class FlatTree private (
    feature: Array[Int], threshold: Array[Double], left: Array[Int], right: Array[Int],
    value: Array[Double], catOffset: Array[Int], numCats: Array[Int], goLeft: Array[Boolean])
  extends Serializable {

  def numNodes: Int = feature.length

  override def toString: String = s"FlatTree($numNodes nodes)"

  def predict(x: Array[Double]): Double = {
    var i = 0
    while (feature(i) >= 0) {
      val v = x(feature(i))
      val o = catOffset(i)
      val l =
        if (o < 0) v <= threshold(i)
        else if (v >= 0.0 && v < numCats(i) && v == v.toInt) goLeft(o + v.toInt)
        else goLeft(o + numCats(i))
      i = if (l) left(i) else right(i)
    }
    value(i)
  }
}

object FlatTree {
  import scala.collection.mutable.ArrayBuffer

  /** Flattens `root` in preorder. */
  def apply(root: Node): FlatTree = {
    val feature = ArrayBuffer.empty[Int]
    val threshold = ArrayBuffer.empty[Double]
    val left = ArrayBuffer.empty[Int]
    val right = ArrayBuffer.empty[Int]
    val value = ArrayBuffer.empty[Double]
    val catOffset = ArrayBuffer.empty[Int]
    val numCats = ArrayBuffer.empty[Int]
    val goLeft = ArrayBuffer.empty[Boolean]

    def add(node: Node): Int = {
      val i = feature.length
      feature += -1; threshold += 0.0; left += -1; right += -1
      value += node.prediction; catOffset += -1; numCats += 0
      node match {
        case _: LeafNode => ()
        case n: InternalNode =>
          feature(i) = n.split.featureIndex
          n.split match {
            case s: ContinuousSplit => threshold(i) = s.threshold
            case s: CategoricalSplit =>
              val m = s.numCategories
              val cats = s.leftCategories
              catOffset(i) = goLeft.length
              numCats(i) = m
              goLeft ++= (0 until m).map(c => cats.contains(c.toDouble))
              goLeft += !(cats.length <= m / 2) // out of range: left unless isLeft
          }
          left(i) = add(n.leftChild)
          right(i) = add(n.rightChild)
      }
      i
    }
    add(root)
    new FlatTree(feature.toArray, threshold.toArray, left.toArray, right.toArray,
      value.toArray, catOffset.toArray, numCats.toArray, goLeft.toArray)
  }
}
