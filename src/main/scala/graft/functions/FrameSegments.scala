package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** `scene_census(frame_sums(text, 16), 40)`: m08/m09's scene segmentation
  * of one document's frame features. A frame starts a scene when it is the
  * first or |feat − previous feat| > threshold; each scene is sampled at
  * its first, middle (start + (len − 1) div 2) and last frame, the picks
  * of a scene de-duplicated. Fields: `n_frames`, `n_scenes`,
  * `longest_scene`, `n_picks` and `pick_sum` (Σ feat over the picks). */
case class SceneCensus(child: Expression, threshold: Long) extends UnaryExpression {

  override def dataType: DataType = FrameSegments.SceneType
  override def prettyName: String = "scene_census"

  override protected def nullSafeEval(input: Any): Any =
    FrameSegments.scenes(input.asInstanceOf[ArrayData], threshold)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.FrameSegments.scenes($c, ${threshold}L)")

  override protected def withNewChildInternal(newChild: Expression): SceneCensus =
    copy(child = newChild)
}

/** `voiced_runs(frame_energy(text, 16), 40000)`: m06's voice-activity
  * census of one document's frame energies. A frame is voiced when its
  * energy ≥ threshold. Fields: `n_frames`, `n_voiced`, `n_runs` (maximal
  * runs of consecutive voiced frames) and `max_run` (0 without any). */
case class VoicedRuns(child: Expression, threshold: Long) extends UnaryExpression {

  override def dataType: DataType = FrameSegments.RunsType
  override def prettyName: String = "voiced_runs"

  override protected def nullSafeEval(input: Any): Any =
    FrameSegments.runs(input.asInstanceOf[ArrayData], threshold)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.FrameSegments.runs($c, ${threshold}L)")

  override protected def withNewChildInternal(newChild: Expression): VoicedRuns =
    copy(child = newChild)
}

/** One walk over a document's frame-feature array behind both
  * expressions. A scene or a voiced run never spans two documents, so
  * segmenting inside the row gives the same counts as exploding the
  * frames and running `lag`, a running sum or `f − row_number()` over a
  * doc-partitioned window, without the explode, the sort, the
  * aggregates or a join back to the frames. Arithmetic is Spark's
  * non-ANSI long arithmetic (`abs(feat − prev)`, `sum`). */
object FrameSegments {

  private def longs(names: String*): StructType =
    StructType(names.map(StructField(_, LongType, nullable = false)))

  val SceneType: StructType =
    longs("n_frames", "n_scenes", "longest_scene", "n_picks", "pick_sum")

  val RunsType: StructType = longs("n_frames", "n_voiced", "n_runs", "max_run")

  def scenes(a: ArrayData, threshold: Long): InternalRow = {
    val n = a.numElements()
    var nScenes, longest, nPicks, pickSum = 0L
    var start = 0
    var i = 0
    while (i < n) {
      // scene [start, i] ends at i when i is the last frame or i + 1 cuts
      if (i + 1 == n || Math.abs(a.getLong(i + 1) - a.getLong(i)) > threshold) {
        val len = i - start + 1
        nScenes += 1
        if (len > longest) longest = len
        // first, last and middle frame: 1, 2 or 3 distinct picks
        pickSum += a.getLong(start)
        if (len >= 2) pickSum += a.getLong(i)
        if (len >= 3) pickSum += a.getLong(start + (len - 1) / 2)
        nPicks += math.min(len, 3)
        start = i + 1
      }
      i += 1
    }
    new GenericInternalRow(Array[Any](n.toLong, nScenes, longest, nPicks, pickSum))
  }

  def runs(a: ArrayData, threshold: Long): InternalRow = {
    val n = a.numElements()
    var nVoiced, nRuns, maxRun, run = 0L
    var i = 0
    while (i < n) {
      if (a.getLong(i) >= threshold) {
        nVoiced += 1
        run += 1
        if (run == 1) nRuns += 1
        if (run > maxRun) maxRun = run
      } else run = 0
      i += 1
    }
    new GenericInternalRow(Array[Any](n.toLong, nVoiced, nRuns, maxRun))
  }
}
