package graft.queries

/** Long-form DuckDB oracle SQL for the ML kernels — kept out of line so
  * the query definitions in [[MlQueries]] stay readable.
  */
object MlOracles {

  /** Recursive-CTE replay of the RK4 SIR fold (m3_sir_rk4): each
    * recursive step computes k1..k4 in nested derived tables with the
    * SAME operand order as [[graft.ops.Integrators.rk4Step]], so the
    * IEEE-double results match Spark's bit-for-bit. CASTs keep bare
    * decimal literals from dragging the recurrence into DECIMAL
    * arithmetic (the w6 lesson).
    */
  val m3Rk4Sql: String =
    SequentialQueries.duckSirBase + """,
      |sim AS (
      |  SELECT l_suppkey, rn, qty AS c,
      |         CAST(10.0 AS DOUBLE) * tax AS r,
      |         CAST(1000.0 AS DOUBLE) AS s
      |  FROM base WHERE rn = 1
      |  UNION ALL
      |  SELECT l_suppkey, rn,
      |    greatest(CAST(0 AS DOUBLE),
      |      c + CAST(1 AS DOUBLE)/6 * (k1c + 2*k2c + 2*k3c + k4c)),
      |    greatest(CAST(0 AS DOUBLE),
      |      r + CAST(1 AS DOUBLE)/6 * (k1r + 2*k2r + 2*k3r + k4r)),
      |    greatest(CAST(0 AS DOUBLE),
      |      s + CAST(1 AS DOUBLE)/6 * (k1s + 2*k2s + 2*k3s + k4s))
      |  FROM (
      |    SELECT *,
      |      1e-5 * (s + k3s) * (c + k3c) - 0.05 * (c + k3c) - z AS k4c,
      |      0.05 * (c + k3c) + z AS k4r,
      |      -(1e-5 * (s + k3s) * (c + k3c)) AS k4s
      |    FROM (
      |      SELECT *,
      |        1e-5 * (s + 0.5*k2s) * (c + 0.5*k2c)
      |          - 0.05 * (c + 0.5*k2c) - z AS k3c,
      |        0.05 * (c + 0.5*k2c) + z AS k3r,
      |        -(1e-5 * (s + 0.5*k2s) * (c + 0.5*k2c)) AS k3s
      |      FROM (
      |        SELECT *,
      |          1e-5 * (s + 0.5*k1s) * (c + 0.5*k1c)
      |            - 0.05 * (c + 0.5*k1c) - z AS k2c,
      |          0.05 * (c + 0.5*k1c) + z AS k2r,
      |          -(1e-5 * (s + 0.5*k1s) * (c + 0.5*k1c)) AS k2s
      |        FROM (
      |          SELECT f.l_suppkey, b.rn, f.c, f.r, f.s, b.disc AS z,
      |            1e-5 * f.s * f.c - 0.05 * f.c - b.disc AS k1c,
      |            0.05 * f.c + b.disc AS k1r,
      |            -(1e-5 * f.s * f.c) AS k1s
      |          FROM sim f JOIN base b
      |            ON b.l_suppkey = f.l_suppkey AND b.rn = f.rn + 1) q1
      |        ) q2
      |      ) q3
      |    ) q4)
      |SELECT l_suppkey, rn, c AS sir_confirmed, r AS sir_removed,
      |       s AS sir_susceptible
      |FROM sim ORDER BY l_suppkey, rn""".stripMargin
}
