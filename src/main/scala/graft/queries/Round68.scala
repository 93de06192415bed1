package graft.queries

import graft.functions.GraftFunctions

/** Round-68 additions (q618/q619): the native imperative-aggregate
  * surface — [[graft.functions.SpaceSavingTopK]], a
  * `TypedImperativeAggregate` (object buffer + manual serde, the
  * internal API `percentile_approx`/HLL++ use), registered in the SQL
  * function registry as `space_saving_topk(key, capacity)`. One pass,
  * O(capacity) state, map-side partials: heavy hitters without shuffling
  * one row per distinct key. Both queries run with capacity ≥ the key's
  * NDV, where SpaceSaving is provably exact with zero error under any
  * partitioning — so the DuckDB exact-count oracle pins the whole
  * aggregate path (update, partial serde, merge, eval ordering)
  * bit-for-bit; the sub-capacity error-bound regime is
  * Round68PropertySpec's differential territory.
  */
object Round68 {

  private def withEvents(s: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    GraftFunctions.registerAll(s)
    Spark("r68_").register(s, dir, "events")
  }

  /** Global heavy hitters of event_type (capacity 16 ≥ NDV 5 → exact,
    * err ≡ 0 — emitted and oracle-pinned as its own column).
    */
  val q618SpaceSaving: QueryDef = QueryDef(
    "q618_space_saving",
    (s, dir) => {
      withEvents(s, dir)
      s.sql("""SELECT hh.key AS event_type, hh.est AS n_events, hh.err AS max_err
               FROM (SELECT explode(space_saving_topk(event_type, 16)) AS hh
                     FROM r68_events)
               ORDER BY n_events DESC, event_type""")
    },
    Some("""SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
                   CAST(0 AS BIGINT) AS max_err
            FROM events GROUP BY event_type
            ORDER BY n_events DESC, event_type""")
  )

  /** GROUPED heavy hitters — per-day sketches, exercising the imperative
    * aggregate's per-group partial/merge path under a keyed shuffle
    * (capacity 8 ≥ per-day NDV 5 → exact).
    */
  val q619SpaceSavingGrouped: QueryDef = QueryDef(
    "q619_space_saving_grouped",
    (s, dir) => {
      withEvents(s, dir)
      s.sql("""WITH e AS (SELECT CAST(unix_micros(ts) div 86400000000 AS BIGINT) AS day,
                                 event_type
                          FROM r68_events)
               SELECT day, hh.key AS event_type, hh.est AS n_events
               FROM (SELECT day, explode(arr) AS hh
                     FROM (SELECT day, space_saving_topk(event_type, 8) AS arr
                           FROM e GROUP BY day))
               ORDER BY day, n_events DESC, event_type""")
    },
    Some("""WITH e AS (SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
                              event_type
                       FROM events)
            SELECT day, event_type, CAST(count(*) AS BIGINT) AS n_events
            FROM e GROUP BY day, event_type
            ORDER BY day, n_events DESC, event_type""")
  )

  val all: Seq[QueryDef] = Seq(q618SpaceSaving, q619SpaceSavingGrouped)
}
