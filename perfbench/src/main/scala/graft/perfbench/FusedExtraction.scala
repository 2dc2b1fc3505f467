package graft.perfbench

import org.apache.spark.sql.DataFrame
import graft.engine.BenchPipeline

/** The product keeps the fused single-pass extraction, the frame that
  * `BenchPipeline.matchRows` caches and fills, package-private. The traced
  * runs materialize that same frame at its boundary, so they reach it here. */
object FusedExtraction {
  def features(pages: DataFrame): DataFrame = BenchPipeline.benchFeatures(pages)
  def sides(features: DataFrame): (DataFrame, DataFrame) = BenchPipeline.sidesFromFeatures(features)
}
