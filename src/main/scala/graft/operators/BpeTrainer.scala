package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The corpus pass of byte-pair-encoding (BPE) tokenizer training
  * (Sennrich/Haddow/Birch, ACL 2016): the word-frequency table every
  * merge round counts adjacent symbol pairs over. q103 pins round 0's
  * pair census on it.
  */
object BpeTrainer {

  /** (word, cnt) from a documents frame — the single corpus-sized
    * pass. Whitespace tokenization matching `graft.functions.tokens`. */
  def wordFrequencies(docs: DataFrame, textCol: String = "text"): DataFrame =
    graft.functions.fanOutScan(docs, col(textCol)) // scale-aware fan-out
      .select(explode(graft.functions.tokens(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
}
