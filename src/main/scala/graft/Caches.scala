package graft

/** The single registry of module-owned persisted-frame caches.
  *
  * Every main that runs queries in a loop (Verify, Bench, Stress,
  * StateAudit, QueryTimer) releases between queries to keep executor
  * memory flat across a sweep; one list here means a new caching module
  * can't be forgotten at any of those call sites.
  */
object Caches {
  def releaseAll(): Unit = {
    llm.Dedup.releasePersistedState()
    llm.Similarity.releasePersistedState()
    llm.TextRelevance.releasePersistedState()
    llm.Boilerplate.releasePersistedState()
    llm.Contamination.releasePersistedState()
    llm.Multimodal.releasePersistedState()
    llm.Selection.releasePersistedState()
    operators.ElementWise.releasePersistedState()
  }
}
