-- The parameterized read tasks of tasks_sql/test.sql that the
-- benchmark posts, all on one queue so they share one worker pool.

-- name: get_profit_summary
-- queue: bench
SELECT SUM(value) AS total, CAST(ts AS DATE) AS entry_date
FROM events WHERE user_id = $1 GROUP BY CAST(ts AS DATE);

-- name: get_profit_entries_by_date
-- queue: bench
SELECT * FROM events WHERE user_id = $1 AND ts > $2 AND ts < $3;

-- name: top_spenders
-- queue: bench
SELECT user_id, SUM(value) AS spend
FROM events WHERE event_type = 'purchase'
GROUP BY user_id ORDER BY spend DESC LIMIT ?;
