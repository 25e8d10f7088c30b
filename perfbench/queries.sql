-- Analyst previews run after each stockpy_daily day, mirroring the
-- reference's Athena queries: newest rows first, row counts, and the
-- partition listing of the two refined tables.
SELECT * FROM stock_db.stock_prices_best_row ORDER BY dataproc DESC, date DESC, ticker LIMIT 10;
SELECT count(*) FROM stock_db.stock_prices_best_row;
SELECT * FROM stock_db.stocks_clean ORDER BY dataproc DESC, data DESC, codigoAcao LIMIT 10;
SELECT count(*) FROM stock_db.stocks_clean;
SELECT * FROM news_db.news_raw ORDER BY extracted_at DESC, link LIMIT 10;
SELECT count(*) FROM news_db.news_raw;
SELECT * FROM news_db.news_clean ORDER BY extracted_at DESC, link LIMIT 10;
SELECT count(*) FROM news_db.news_clean;
SHOW PARTITIONS stock_db.stocks_clean;
SHOW PARTITIONS news_db.news_clean;
