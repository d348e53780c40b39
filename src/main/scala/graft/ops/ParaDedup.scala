package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Paragraph-grain exact deduplication — the CCNet-style curation pass
  * (Wenzek et al. 2020: dedup at paragraph level over hashed, normalized
  * paragraphs) that removes boilerplate shared ACROSS documents (cookie
  * banners, nav footers, license blurbs) which document-grain dedup
  * can never see: two pages are distinct documents yet 80% of their
  * lines are the same template.
  *
  * Semantics: a paragraph occurrence (doc, pos) is KEPT iff it is the
  * corpus-wide first occurrence of that paragraph under (doc_id, pos)
  * ordering — deterministic, engine-independent, re-run-stable (the
  * same tie-break rule as exact doc dedup's min-doc_id canonical).
  *
  * Scale shape (100 TB): two exchanges, both on narrow keys —
  *   1. the first-seen window partitions by the 8-byte xxhash64 of the
  *      paragraph (never the raw text; each paragraph string crosses
  *      the wire exactly once, alongside its (id, pos) coordinate);
  *   2. the optional reassembly groups by doc id.
  * At full scale you drop stage 2 and write kept paragraphs straight
  * from the flag view (`paragraphFlags`) — reassembly into a cleaned
  * document blob is a presentation step, not part of the dedup.
  */
object ParaDedup {

  /** The paragraph separator. CCNet splits on newline; "\n\n" treats
    * blank-line-separated blocks as paragraphs — the web-text convention
    * after HTML extraction. */
  val Sep = "\n\n"

  /** Exploded (id, pos, para) view; split keeps trailing empties (Java
    * limit -1) so offsets reconstruct the document exactly. */
  def explodeParagraphs(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
      posexplode(split(col(textCol), Sep)).as(Seq("pos", "para")))

  /** Adds a corpus-wide first-seen `kept` flag per paragraph occurrence.
    * The only wide dependency: a row_number window keyed on the 8-byte
    * paragraph hash. */
  def paragraphFlags(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val ex = explodeParagraphs(df, idCol, textCol)
      .withColumn("para_hash", xxhash64(col("para")))
    val w = Window.partitionBy(col("para_hash"))
      .orderBy(col(idCol), col("pos"))
    ex.withColumn("kept", row_number().over(w) === 1)
  }

  /** Per-doc report: paragraph counts and the cleaned text (kept
    * paragraphs re-joined in original order; docs whose every paragraph
    * was seen earlier collapse to ""). */
  def dedupParagraphs(df: DataFrame, idCol: String, textCol: String): DataFrame =
    paragraphFlags(df, idCol, textCol)
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_paras"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(
              when(col("kept"), struct(col("pos"), col("para"))))),
            x => x.getField("para")),
          Sep).as("cleaned"))
}
