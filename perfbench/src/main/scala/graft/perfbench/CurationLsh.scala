package graft.perfbench

import org.apache.spark.sql.DataFrame

import graft.pipeline.Curation

/** Curate's own near-dedup kernel is package-private to `graft`; the
  * traced run times it and measures the precision of its drops. */
object CurationLsh {
  /** The ids `curate`'s MinHash-LSH stage drops from `df`, one row per
    * (id, band) whose bucket holds a lower id. */
  def dropIds(df: DataFrame): DataFrame = Curation.lshDropIds(df)
}
