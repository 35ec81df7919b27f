package org.apache.spark.perfbench

import org.apache.spark.scheduler.StageInfo

/** Reads the operation-scope names of a stage's RDDs ("Scan csv", ...),
  * which Spark keeps package-private. */
object RddScopes {
  def of(info: StageInfo): Seq[String] = info.rddInfos.flatMap(_.scope.map(_.name)).toSeq
}
