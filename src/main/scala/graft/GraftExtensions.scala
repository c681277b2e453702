package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import graft.functions.GraftFunctions

/** Standard config-time wiring for the engine's native functions:
  *
  * {{{
  *   spark.sql.extensions=graft.GraftExtensions
  * }}}
  *
  * or `SparkSession.builder().withExtensions(new GraftExtensions)`.
  * Complements the runtime path (`GraftFunctions.register`) used when
  * the session already exists (e.g. the driver's harness session).
  * Both paths derive from [[GraftFunctions.builders]] — ONE registry,
  * so a function added there is automatically available through both
  * (maintaining two hand-written lists once dropped graft_phash64
  * from this one).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftFunctions.builders.foreach { case (name, cls, builder) =>
      e.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name),
        builder))
    }
    e.injectPlannerStrategy(_ => graft.plans.TopKPerGroupStrategy)
    // runs once, when the session builds its analyzer
    e.injectCheckRule { spark =>
      graft.sources.NioLocalFileSystem.install(spark)
      _ => ()
    }
  }
}
