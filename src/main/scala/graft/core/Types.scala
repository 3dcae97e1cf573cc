package graft.core

/** Embedding model registry entry.
  *
  * Mirrors the reference's nested model registry
  * (reference `modules/utilities.py:420-475`): model name -> deployment + dim.
  * The dims (1024/1536/2048/4096/12288) are the reference's supported sizes;
  * `graft-mini` (dim 64) is this engine's local deterministic model used for
  * tests (matches the dim of the `embeddings.parquet` fixture, dim 64).
  */
final case class EmbeddingModel(name: String, deployment: String, dim: Int)

object ModelRegistry {
  val models: Map[String, EmbeddingModel] = Map(
    "text-search-ada-doc-001"     -> EmbeddingModel("text-search-ada-doc-001", "local-ada", 1024),
    "text-embedding-ada-002"      -> EmbeddingModel("text-embedding-ada-002", "local-ada-002", 1536),
    "text-search-babbage-doc-001" -> EmbeddingModel("text-search-babbage-doc-001", "local-babbage", 2048),
    "text-search-curie-doc-001"   -> EmbeddingModel("text-search-curie-doc-001", "local-curie", 4096),
    "text-search-davinci-doc-001" -> EmbeddingModel("text-search-davinci-doc-001", "local-davinci", 12288),
    "graft-mini"                  -> EmbeddingModel("graft-mini", "local-mini", 64)
  )
  val default: String = "graft-mini"
  def dim(model: String): Int = models(model).dim
}
