package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

import graft.functions.TextFunctions
import graft.functions.expressions.HashedEmbedding

/** Model-free document embeddings by the hashing trick: a signed,
  * tf-weighted projection of each document's bag of words into `dim`
  * buckets, computed inline by the codegen'd
  * [[graft.functions.expressions.HashedEmbedding]] kernel — one pass per
  * document, no token explode, no shuffle, streaming-safe.
  *
  * This is the bridge from text-only corpora to the embedding tier: the
  * output column is shaped exactly like the `embeddings` table's vector,
  * so [[Similarity.cosineNearDuplicates]], the ANN ladder, [[Pca]] and
  * [[Similarity.semanticDedup]] all run on it unchanged. Cosine in the
  * hashed space is an unbiased estimate of bag-of-words cosine
  * (Weinberger et al. 2009), degrading gracefully as dim shrinks — the
  * cheap rung below MinHash when what you want is a dense vector, not a
  * signature (e.g. to feed PCA or an IVF index).
  *
  * Scale: O(tokens) work in the scan stage; output is docs × dim doubles.
  * Pick dim by the downstream consumer (64-256 for near-dup bucketing,
  * more for retrieval); the md5 `parity` mode exists for engine-portable
  * oracle replay, production uses xxhash64.
  */
object FeatureHash {

  /** One (id, emb) row per document with non-null text; emb has length
    * `dim`. An empty-token document embeds as the zero vector.
    */
  def hashedEmbeddings(docs: DataFrame, idCol: String, textCol: String,
                       dim: Int, md5Parity: Boolean = false,
                       uax29: Boolean = false): DataFrame = {
    val toks =
      if (uax29) TextFunctions.tokenize(col(textCol))
      else split(col(textCol), " ")
    val emb = Bridge.column(HashedEmbedding(Bridge.expression(toks), dim,
      md5Parity))
    // the kernel is null exactly on null tokens, i.e. null text: filtering
    // on the input keeps Catalyst from pushing an `emb IS NOT NULL` filter
    // below the projection, where it would run the kernel a second time
    graft.Par.fanOut(docs.where(col(textCol).isNotNull))
      .select(col(idCol).as("id"), emb.as("emb"))
  }
}
