package graft.expressions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** The ONE table of graft native functions, `(sql name, expression class,
  * builder)`. Both entry points iterate it: [[GraftExtensions]] for
  * sessions built with `spark.sql.extensions`, and [[registerAll]] for
  * every other session — notably [[graft.PostureSessions]] clones, whose
  * fresh SessionState starts with an empty session registry (an operator
  * frame built on a clone would otherwise fail to resolve a function some
  * earlier call registered on the CALLER only — the q86 r15 lesson).
  */
object GraftFunctions {
  val all: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    (CosineSimilarity.name, classOf[CosineSimilarity], CosineSimilarity.builder),
    (LshBucket.name, classOf[LshBucket], LshBucket.builder),
    (TopKByScore.name, classOf[TopKByScore], TopKByScore.builder),
    (CollectSmallestK.name, classOf[CollectSmallestK], CollectSmallestK.builder),
    (SmallestKPairs.name, classOf[SmallestKPairs], SmallestKPairs.builder),
    (PostingPairs.name, classOf[PostingPairs], PostingPairs.builder),
    (FunnelStage.name, classOf[FunnelStage], FunnelStage.builder),
    (GraftPii.name, classOf[PiiScrub], GraftPii.builder),
    (OovStats.name, classOf[OovStats], OovStats.builder),
    (ArgMaxText.name, classOf[ArgMaxText], ArgMaxText.builder),
    (LatestBy.name, classOf[LatestBy], LatestBy.builder),
    (FastRound.name, classOf[RoundHalfUpFast], FastRound.builder),
  ) ++ TextSignatures.fns ++ TextStats.fns ++ VecPrimitives.fns

  /** Registers every function the session's registry does not already
    * hold. Idempotent and silent: re-registering would replace the entry
    * and log a warning on every call.
    */
  def registerAll(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    all.foreach { case (name, cls, builder) =>
      val id = FunctionIdentifier(name)
      if (!registry.functionExists(id))
        registry.registerFunction(id, new ExpressionInfo(cls.getName, name), builder)
    }
  }
}

/** `spark.sql.extensions=graft.expressions.GraftExtensions` installs the
  * engine's native functions into every session of a deployment.
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit =
    GraftFunctions.all.foreach { case (name, cls, builder) =>
      ext.injectFunction((FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), builder))
    }
}
