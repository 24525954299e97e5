package perfbench

/** Output values recorded from checked runs, per seed. A seed without a
  * record is checked only for a non-empty result.
  */
object Expected {

  /** batch_queries: query -> (rows, checksum), recorded at seeds 1 and 2. */
  val batch: Map[Long, Map[String, (Long, Long)]] = Map(
    1L -> Map(
      "q_monthly_mean" -> (252L, 4170874296001649528L),
      "q_rolling_mean" -> (2577L, -1556173948228030400L),
      "q_clim_percentiles" -> (252L, 2954191857673175778L),
      "q_anomaly" -> (60000L, 4272977057468894672L),
      "q_zscore_severity" -> (60000L, 943532608448696530L),
      "q_percentile_rank" -> (60000L, 27095797399867949L),
      "q_linear_trend" -> (3L, -213621578744461233L),
      "q_mann_kendall" -> (3L, 530120622993947754L),
      "q_minhash_dedup" -> (100L, 5106524549702030060L)),
    2L -> Map(
      "q_monthly_mean" -> (252L, -8349321988119482642L),
      "q_rolling_mean" -> (2508L, -2816386452885924697L),
      "q_clim_percentiles" -> (252L, -2643838953401036507L),
      "q_anomaly" -> (60000L, -5918944061343664929L),
      "q_zscore_severity" -> (60000L, 7478679344678704202L),
      "q_percentile_rank" -> (60000L, 583077290102214563L),
      "q_linear_trend" -> (3L, 1794728261293188373L),
      "q_mann_kendall" -> (3L, -765492932098398735L),
      "q_minhash_dedup" -> (100L, 5106524549702030060L))
  ).withDefaultValue(Map.empty)
}
