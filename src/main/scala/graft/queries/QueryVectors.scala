package graft.queries

import graft.functions.HashingEmbedder

/** The registered queries' fixed query vectors. A leaf object: the
  * oracle strings of [[VectorQueries]] and the flagship pair in
  * [[Queries]] both read it while they initialize, so neither object's
  * initialization reaches into the other's.
  */
object QueryVectors {

  /** The flagship deterministic query vector (64-d to match the
    * `embeddings` fixture), from the engine's offline encoder.
    */
  val queryVec64: Array[Float] = HashingEmbedder(dim = 64, seed = 7)
    .encode("graft flagship knn query vector")
}
