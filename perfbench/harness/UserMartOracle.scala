package graftbench

import graft.functions.Geo

/** DuckDB oracle for the user mart `Pipeline.run` writes.
  *
  * The catalog has no oracle of this shape: q46 runs `UserMartJob.transform`
  * on events that are all messages, with a 5-day home-city rule, while the
  * pipeline runs it with its defaults on the staged lake. This is q46's
  * DAG (`ParityQueries.userMartOracleSql`) with exactly those differences:
  * only message events (`click`/`purchase` in the raw table), rows with
  * null coordinates dropped (every 7th event id; the nearest-city join
  * cannot match them), and 27 consecutive event-days for a home city.
  * Local time stays Australia/Sydney.
  *
  * Travel order: the pipeline builds `travel_array` with `strictOrder =
  * false`, the reference's `collect_list`, whose order follows the upstream
  * exchange and is not deterministic (`UserMartJob.travel`). The gated
  * check therefore compares each route's stops in sorted order
  * (`chronological = false`); the chronological form feeds a reported,
  * ungated count of routes that came out in another order.
  */
object UserMartOracle {
  private val hav = Geo.haversineSqlText("lat_m", "lat", "lon_m", "lon")

  def sql(chronological: Boolean): String = {
    val routeOrder = if (chronological) "datetime, city" else "city"
    s"""WITH ev AS (
       |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS datetime,
       |    CASE WHEN event_id % 10 = 0 THEN (user_id + event_id) % 25
       |         ELSE user_id % 25 END AS ci
       |  FROM events
       |  WHERE event_type IN ('click', 'purchase') AND event_id % 7 != 0),
       |msg AS (
       |  SELECT user_id, datetime,
       |    -60 + ci*137 % 120 + 0.05 AS lat_m,
       |    -170 + ci*211 % 340 + 0.05 AS lon_m
       |  FROM ev),
       |cities AS (
       |  SELECT n_name AS city,
       |    CAST(-60 + n_nationkey*137 % 120 AS DOUBLE) AS lat,
       |    CAST(-170 + n_nationkey*211 % 340 AS DOUBLE) AS lon
       |  FROM nation),
       |nn AS (
       |  SELECT user_id, datetime, city FROM (
       |    SELECT user_id, datetime, city, $hav AS dist,
       |      min($hav) OVER (PARTITION BY user_id, datetime) AS dmin
       |    FROM msg CROSS JOIN cities)
       |  WHERE dist = dmin),
       |last_geo AS (
       |  SELECT user_id,
       |    strftime(timezone('Australia/Sydney', timezone('UTC', datetime)),
       |      '%Y-%m-%d %H:%M:%S') AS local_time,
       |    min(city) AS act_city
       |  FROM (SELECT *, max(datetime) OVER (PARTITION BY user_id) AS mdt
       |        FROM nn)
       |  WHERE datetime = mdt GROUP BY 1, 2),
       |days AS (SELECT DISTINCT user_id, CAST(datetime AS DATE) AS d, city
       |         FROM nn),
       |dr_t AS (
       |  SELECT user_id, d, city,
       |    dense_rank() OVER (PARTITION BY user_id ORDER BY d DESC) AS dr
       |  FROM days),
       |ranked AS (
       |  SELECT *, coalesce(lag(dr) OVER (PARTITION BY user_id, city
       |    ORDER BY d DESC), 0) AS ldr
       |  FROM dr_t),
       |isl AS (
       |  SELECT user_id, city, dr - rn AS diff, max(d) AS d, count(*) AS n
       |  FROM (SELECT *, row_number() OVER (PARTITION BY user_id, city
       |          ORDER BY d DESC) AS rn
       |        FROM ranked WHERE dr = ldr + 1)
       |  GROUP BY 1, 2, 3 HAVING count(*) >= 27),
       |home AS (
       |  SELECT user_id, min(city) AS home_city FROM (
       |    SELECT *, max(d) OVER (PARTITION BY user_id) AS md FROM isl)
       |  WHERE d = md GROUP BY 1),
       |stops AS (
       |  SELECT s.user_id, s.datetime, s.city FROM (
       |    SELECT *, lag(city) OVER (PARTITION BY user_id
       |      ORDER BY datetime, city) AS lc
       |    FROM (SELECT DISTINCT user_id, datetime, city FROM nn)) s
       |  LEFT JOIN home h ON s.user_id = h.user_id AND s.city = h.home_city
       |  WHERE (s.city != s.lc OR s.lc IS NULL) AND h.user_id IS NULL),
       |trav AS (
       |  SELECT user_id, count(city) AS travel_count,
       |    array_to_string(list(city ORDER BY $routeOrder), ',') AS route
       |  FROM stops GROUP BY 1)
       |SELECT l.user_id, l.local_time, l.act_city, h.home_city,
       |  t.travel_count,
       |  coalesce(t.route, '') AS route
       |FROM last_geo l
       |LEFT JOIN home h ON l.user_id = h.user_id
       |LEFT JOIN trav t ON l.user_id = t.user_id""".stripMargin
  }
}
