package graft

/** Thrown by the documented pre-flight contract guards
  * ([[queries.DedupQueries.guardPairBudget]],
  * [[queries.SimilarityQueries.lloydGuardedK]]) when a corpus sits past an
  * operator's measured-regime budget: the message carries the routing
  * answer (which scale-path operator to use instead).
  *
  * A dedicated type — not a message-substring convention — so the probe
  * battery ([[ScaleProbe]], both corpus shapes) can classify a refusal by
  * `catch`, and any OTHER construction-time failure is recorded as that
  * query's own `failed_at_construction` cell instead of aborting the run
  * (r16 advice: the old `getMessage.contains("refused")` match let a
  * reworded guard or an unrelated exception kill the whole probe).
  * Extends `IllegalStateException` so every existing caller and spec
  * that intercepts the superclass keeps working.
  */
class ContractRefusedException(message: String) extends IllegalStateException(message)
